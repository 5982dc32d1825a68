package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.ops.Pin.PinOps

/** Similarity search over embedding columns. Every registered vector
  * query (q37, q38, q42, q202, q217, q224, q258–q265) runs a form whose
  * every decision is exact integer arithmetic, so its DuckDB oracle
  * replays it step for step:
  *
  *  - the portable sign-LSH cascade ([[withCellsPortable]]: md5-derived
  *    planes, cells ∝ N, hamming-≤1 multiprobe and banding) for top-k,
  *    near-dup pairs and hard negatives;
  *  - fixed-point spherical k-means ([[kmeansCentroidsFp]]) and its
  *    IVF-probed cells-∝-n form ([[ivfAssignCellsFp]]) for top-k,
  *    semantic dedup, decontamination and hard negatives;
  *  - fixed-point PCA ([[topTwoAxesFp]]) for projection and the
  *    adaptive grid/sign-LSH near-dup cascade.
  *
  * `Multimodal.mediaNearDupPairs` runs the same portable cascade over
  * L2-normalized decoder embeddings. The exact float top-k that the
  * approximate forms' recall is measured against lives with the specs.
  *
  * At 100 TB the same shapes hold: anchors/centroids broadcast,
  * candidate generation is an equijoin on (cell) or (band key) —
  * uniform shuffle keys, no N² anywhere — and the exact score runs
  * only on the candidate set.
  */
object SimilarityPipeline {

  // ------------------------------------------------------------------
  // Data-scaled sign-LSH coarse quantizer. Cells are sign buckets of
  // `bits` md5-derived hyperplanes with integer sign decisions
  // ([[withCellsPortable]]; deterministic, no fit pass, no driver
  // state).
  // `cellBits` picks bits so the expected cell occupancy stays
  // ~`targetOccupancy` regardless of corpus size: cells ∝ N, so
  // per-cell candidate-pair counts stay FLAT as the corpus grows — the
  // property that makes the join cost O(N·occ) instead of
  // quadratic-in-the-hottest-cell.
  //
  // Recall across a cell boundary is recovered by hamming-≤1
  // multiprobe (standard IVF nprobe analog): queries probe their own
  // cell plus every 1-bit-flip neighbor; the pair join bands on each
  // bit-masked key ([[bandKeys]]). Cost multiplier is (bits+1), still
  // linear in N.
  // ------------------------------------------------------------------

  /** Hyperplane count for ~`targetOccupancy` vectors per cell
    * (cells = 2^bits ≈ n / targetOccupancy, clamped to [1, 16] bits).
    *
    * INTEGER-ONLY derivation (r9, ADVICE fix): round(log₂(n/occ)) = the
    * largest k with n/occ ≥ 2^(k−1/2), i.e. n² ≥ occ²·2^(2k−1) — an
    * exact integer comparison, so the DuckDB oracles reproduce the bit
    * count with the SAME integer test instead of a float log whose
    * last-ulp behavior near half-integer boundaries could differ
    * between engines and desynchronize the whole q37/q38/q217 cascade.
    * (Half-up rounding at the boundary c = 2^(k+1/2) picks k+1 — the
    * ≥ in the integer test — matching Scala `.round` and DuckDB
    * `round` on positive values.)
    */
  def cellBits(n: Long, targetOccupancy: Int = 64): Int = {
    val n2 = BigInt(n) * BigInt(n)
    val occ2 = BigInt(targetOccupancy) * BigInt(targetOccupancy)
    (1 to 16).reverse.find(k => n2 >= occ2 * (BigInt(1) << (2 * k - 1))).getOrElse(1)
  }

  /** `cells = (vec_id, cell, carry…)` exploded to one row per bit-masked
    * band key: (carry…, m, key) with key = cell with bit m cleared. Two
    * cells share a key iff they agree on all bits or differ in exactly
    * bit m — the hamming-≤1 banding every sign-LSH pair join runs.
    */
  private def bandKeys(cells: DataFrame, bits: Int, carry: String*): DataFrame =
    cells.select(carry.map(col) :+
      explode(array((0 until bits).map(b =>
        struct(lit(b).as("m"), col("cell").bitwiseAND(lit(~(1L << b))).as("key"))): _*)).as("bk"): _*)
      .select(carry.map(col) ++ Seq(col("bk.m").as("m"), col("bk.key").as("key")): _*)

  /** The undirected collisions of a [[bandKeys]] frame: `a`/`b`-aliased
    * row pairs sharing a band key, a.vec_id < b.vec_id. Same-cell pairs
    * collide on every key, so consumers dedupe.
    */
  private def bandCollisions(banded: DataFrame): DataFrame =
    banded.as("a")
      .join(banded.as("b"),
        col("a.m") === col("b.m") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id"))

  // -------------------------------------------------------------------
  // Exact cosine rules over scored pairs (dot_fp, na, nb), one
  // definition each: cos ≥ tn/td ⟺ d ≥ 0 ∧ td²·d² ≥ tn²·nₐ·n_b,
  // cross-multiplied in DECIMAL(38,0) by VectorFunctions.prodCmp3 — no
  // float decision anywhere, so every oracle replays them.
  // -------------------------------------------------------------------

  /** Rejects a cosine threshold tNum/tDen outside (0, 1). */
  private def requireThreshold(tNum: Int, tDen: Int): Unit =
    require(tNum > 0 && tDen > 0 && tNum < tDen, "threshold must be in (0,1)")

  /** Rejects a cosine band [lo, hi) that is not 0 < lo < hi. */
  private def requireBand(loNum: Int, loDen: Int, hiNum: Int, hiDen: Int): Unit =
    require(loNum > 0 && loDen > 0 && hiNum > 0 && hiDen > 0 &&
      loNum.toLong * hiDen < hiNum.toLong * loDen, "band must be 0 < lo < hi")

  /** The sign of tDen²·d² − tNum²·nₐ·n_b. */
  private def cosCmp(tNum: Int, tDen: Int): Column =
    VectorFunctions.prodCmp3(col("dot_fp"), col("dot_fp"), tDen.toLong * tDen,
      col("na"), col("nb"), tNum.toLong * tNum)

  /** cos ≥ tNum/tDen. A zero vector has no cosine to anything, so
    * positive norms are part of the rule: without them 0 ≥ 0 passes
    * the cross-multiplied test vacuously and `cos2_bp` throws.
    */
  private[graft] def cosAtLeast(tNum: Int, tDen: Int): Column =
    col("dot_fp") >= 0 && col("na") > 0 && col("nb") > 0 && cosCmp(tNum, tDen) >= 0

  /** loNum/loDen ≤ cos < hiNum/hiDen. lo > 0 ⇒ d ≥ 0 on every survivor,
    * so the upper test needs no sign branch.
    */
  private def cosInBand(loNum: Int, loDen: Int, hiNum: Int, hiDen: Int): Column =
    col("dot_fp") >= 0 && cosCmp(loNum, loDen) >= 0 && cosCmp(hiNum, hiDen) < 0

  // -------------------------------------------------------------------
  // FIXED-POINT spherical k-means (q42's r9 form): every decision the
  // pipeline makes — seeding, Lloyd assignment, centroid update and
  // normalization, probe choice, final ranking — is defined over exact
  // int64 arithmetic, so a DuckDB oracle replays the whole algorithm
  // verbatim and the output hash-matches cross-engine (the q29/q92
  // fix-point idiom extended to an ITERATIVE algorithm, the q122
  // pagerank precedent). It is the one k-means form;
  // SimilarityPipelineSpec pins its recall against bruteForceTopK.
  //
  // Integer-width argument (unit-norm inputs, scale S=1e7, centroid
  // scale CS=1e6, dim 64 — every bound N-INDEPENDENT except the raw
  // per-cell component sums, which hold to ~9e11 rows per cell):
  //  - quantized components |qᵢ| ≤ S, so round-0 dots ≤ 64·S² = 6.4e15;
  //  - truncated means |mᵢ| ≤ S, norms ‖m‖² ≤ 64·S² = 6.4e15 < 2⁵³
  //    (Exact.isqrt's domain), isqrt ≤ 8e7;
  //  - normalized centroids |ĉᵢ| = |mᵢ|·CS/⌊‖m‖⌋ ≈ CS, so per-round
  //    assignment dots ≤ 64·S·CS·(1+1/r) ≈ 6.4e14;
  //  - the final ranking is q29's key with its own documented bounds.
  // -------------------------------------------------------------------

  /** `iters` exact-integer Lloyd rounds over a pre-quantized corpus
    * `fp = (vec_id, q: array<long>)`. Seeds are the `cells` lowest
    * vec_ids' raw fp vectors (norm ≈ scale on unit-norm input, so
    * round-0 argmax-dot is argmax-cosine up to quantization — and the
    * DEFINITION is the integer dot, identical in both engines).
    * Per round: argmax-dot assignment (tie → lowest cell), truncated
    * integer mean (sign·(|Σq| div n)), then normalization to a
    * CS-scaled unit vector via [[graft.ops.Exact.isqrt]] — the count
    * and norm cancel out of cosine, so this IS spherical k-means, just
    * with the normalization pinned to exact integers. Empty cells drop
    * out (assignment is argmax over live centroids, both engines).
    */
  def kmeansCentroidsFp(
      fp: DataFrame, cells: Int, iters: Int, centScale: Long = 1000000L): DataFrame = {
    require(cells > 0 && iters >= 1)
    graft.ops.Rounds.fixed(seedsFp(fp, cells, "cell", "cent"), iters)(
      cents => lloydUpdateFp(fp, assignCellsFp(fp, cents), centScale))
  }

  /** The `n` lowest-vec_id fp vectors as (`idCol` 0..n−1, `vecCol`) —
    * the deterministic seeds of every fixed-point quantizer.
    */
  private def seedsFp(fp: DataFrame, n: Int, idCol: String, vecCol: String): DataFrame =
    fp.orderBy("vec_id")
      .limit(n)
      .select(
        (row_number().over(Window.orderBy("vec_id")) - 1).cast("int").as(idCol),
        col("q").as(vecCol))

  /** One exact-integer Lloyd update: the truncated integer mean of each
    * cell's members under `assigned = (vec_id, cell)`, normalized to a
    * `centScale`-scaled unit vector via [[graft.ops.Exact.isqrt]].
    * Returns (cell, cent); empty cells drop out.
    */
  private def lloydUpdateFp(fp: DataFrame, assigned: DataFrame, centScale: Long): DataFrame = {
    val means = assigned
      .join(fp, "vec_id")
      .select(col("cell"), posexplode(col("q")).as(Seq("i", "v")))
      .groupBy("cell", "i")
      .agg(sum("v").as("s"), count(lit(1)).as("nc"))
      // truncated integer mean via abs/negate so Spark `div` (trunc)
      // and DuckDB `//` agree regardless of their negative-operand
      // conventions — both see non-negative operands only
      .select(col("cell"), col("i"),
        when(col("s") < 0, -expr("(-s) div nc")).otherwise(expr("s div nc")).as("m"))
    val norms = means
      .groupBy("cell")
      .agg(sum(col("m") * col("m")).as("n2"))
      .select(col("cell"), graft.ops.Exact.isqrt(col("n2")).as("r"))
    means
      .join(norms, "cell")
      .select(col("cell"), col("i"),
        when(col("r") === 0, col("m"))
          .otherwise(
            when(col("m") < 0, -expr(s"((-m) * $centScale) div r"))
              .otherwise(expr(s"(m * $centScale) div r"))).as("c"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("i"), col("c")))).as("ic"))
      .select(col("cell"), transform(col("ic"), x => x.getField("c")).as("cent"))
  }

  /** Argmax-integer-dot assignment of `fp = (vec_id, q)` against
    * `cents = (cell, cent)`: one broadcast join + [[bestCell]].
    */
  def assignCellsFp(fp: DataFrame, cents: DataFrame): DataFrame =
    bestCell(fp.join(broadcast(cents)))

  /** Per vec_id of `pairs = (vec_id, q, cell, cent, …)`, the cell whose
    * centroid has the largest integer dot with q, tie → lowest cell: a
    * partial-aggregable max over a (dot, −cell) struct (map-side
    * combined — cheaper than a window sort, which cannot
    * partial-aggregate). Returns (vec_id, cell).
    */
  private def bestCell(pairs: DataFrame): DataFrame =
    pairs
      .select(
        col("vec_id"),
        struct(
          VectorFunctions.dotLong(col("q"), col("cent")).as("dot"),
          (-col("cell")).as("negCell")).as("sc"))
      .groupBy("vec_id")
      .agg(max(col("sc")).as("best"))
      .select(col("vec_id"), (-col("best.negCell")).cast("int").as("cell"))

  /** The corpus quantized to `(vec_id, q, extra…)` at `scale` and
    * pinned: every fixed-point operator reads it from several joins
    * and Lloyd rounds (at production scale this frame is the persisted
    * fp ledger).
    */
  private def pinnedFp(corpus: DataFrame, scale: Long, extra: Column*): DataFrame =
    corpus
      .select(col("vec_id") +: VectorFunctions.quantizeFp(col("embedding"), scale).as("q") +: extra: _*)
      .pinLineage()

  /** `queries` quantized to (query_id, qq) at `scale`. */
  private def quantizedQueries(queries: DataFrame, scale: Long): DataFrame =
    queries.select(
      col("vec_id").as("query_id"),
      VectorFunctions.quantizeFp(col("embedding"), scale).as("qq"))

  /** q29's exact ranking key over (dot_fp, n_fp): sign(d)·(d²·10⁴ div n)
    * — per query the query norm is constant, so the key is monotone in
    * cosine at 1e-18 resolution.
    */
  private def signedRankFp: Column =
    when(col("dot_fp") < 0, lit(-1L)).otherwise(lit(1L)) *
      VectorFunctions.rankFp(col("dot_fp"), col("n_fp"))

  /** The IVF search tail: each query's `nprobe` best cells among
    * `cellCands = (query_id, qq, cell, cent, …)` (integer dot, tie →
    * lowest cell), then the probed cells' members of
    * `assigned = (vec_id, q, cell)` ranked by q29's exact key, top `k`
    * per query. Output (query_id, vec_id, rank_fp).
    */
  private def probeAndRank(
      assigned: DataFrame, cellCands: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val wq = Window.partitionBy("query_id").orderBy(desc("cdot"), asc("cell"))
    val probes = cellCands
      .select(col("query_id"), col("qq"), col("cell"),
        VectorFunctions.dotLong(col("qq"), col("cent")).as("cdot"))
      .withColumn("__rn", row_number().over(wq))
      .where(col("__rn") <= nprobe)
      .select(col("query_id"), col("qq"), col("cell"))
    val w = Window.partitionBy("query_id").orderBy(desc("rank_fp"), asc("vec_id"))
    assigned
      .join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.dotLong(col("q"), col("qq")).as("dot_fp"),
        VectorFunctions.dotLong(col("q"), col("q")).as("n_fp"))
      .select(col("query_id"), col("vec_id"), signedRankFp.as("rank_fp"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select("query_id", "vec_id", "rank_fp")
  }

  /** IVF top-k under the fixed-point k-means quantizer (q42): index
    * build is the once-per-corpus cost, queries probe their `nprobe`
    * best cells (integer dot, tie → lowest cell), candidates ranked by
    * q29's exact integer key (query norm constant per group, candidate
    * norm divided out, sign-carried quotient at 1e-18 resolution).
    * Output (query_id, vec_id, rank_fp) is all int64.
    */
  def kmeansTopKFp(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      cells: Int,
      iters: Int = 2,
      nprobe: Int = 2,
      scale: Long = 10000000L,
  ): DataFrame = {
    val fp = pinnedFp(corpus, scale)
    val cents = kmeansCentroidsFp(fp, cells, iters)
    val assigned = fp.join(assignCellsFp(fp, cents), "vec_id")
    probeAndRank(assigned, quantizedQueries(queries, scale).join(broadcast(cents)), nprobe, k)
  }

  /** SEMANTIC dedup under the fixed-point k-means quantizer (q259) —
    * the SemDeDup recipe (Abbas et al. 2023, public): cluster the
    * corpus, compare pairs INSIDE a cluster only, and drop every
    * vector that has a lower-id cluster-mate at cosine ≥ tNum/tDen.
    * q25/q30's keep-first rule extended to the SEMANTIC axis: the
    * survivor set is {v : no u < v in v's cell with cos(u,v) ≥ τ},
    * and the emitted rows are the DROPS, each with its minimal
    * witness (`keeper` — which may itself be dropped through a chain,
    * exactly like q30's pair list; survivors = anti-join on vec_id).
    *
    * Work bound: clustering is the once-per-corpus kmeans cost
    * (n·cells integer dots per round, centroids broadcast); the pair
    * stage touches INTRA-CELL pairs only — with cells ≈ isqrt(n)/2
    * (q42's sizing) that is Σ|cell|²/2 ≈ n^1.5 in expectation, never
    * n². At 100 TB the published lever is cells ∝ n (constant cluster
    * size ⇒ LINEAR pair work) with the assignment itself going
    * through the IVF probe (kmeansTopKFp's shape) instead of the
    * dense broadcast — the decision rule below is unchanged by either
    * swap. Every decision (Lloyd rounds, assignment, the
    * cross-multiplied threshold d ≥ 0 ∧ d²·tDen² ≥ tNum²·nₐ·n_b, the
    * min-witness pick) is exact int64/DECIMAL(38,0), so the whole
    * operator hash-matches its DuckDB replay.
    */
  def semanticDedupFp(
      corpus: DataFrame, cells: Int, tNum: Int, tDen: Int,
      iters: Int = 2, scale: Long = 10000000L): DataFrame = {
    requireThreshold(tNum, tDen)
    val fp = pinnedFp(corpus, scale)
    val cents = kmeansCentroidsFp(fp, cells, iters)
    // pin: the n·cells assignment pass is the expensive post-cluster
    // step — both sides of the self-join read THIS frame, not two
    // recomputations of it
    val assigned = fp.join(assignCellsFp(fp, cents), "vec_id").pinLineage()
    semanticDupDrops(assigned, tNum, tDen)
  }

  /** SEMANTIC decontamination under the same fixed-point k-means
    * quantizer (q260): flag every NON-benchmark vector that has a
    * benchmark cluster-mate at cosine ≥ tNum/tDen — the embedding-axis
    * member of the decontamination family (q75/q117/q149/q188/q208
    * test n-gram overlap, which PARAPHRASED eval leakage defeats;
    * semantic similarity is how production pipelines catch it).
    * `isBench` marks the benchmark rows inside `corpus` (a predicate
    * over the corpus columns — at production scale, a membership
    * column the loader stamps).
    *
    * Same machinery, same bounds as [[semanticDedupFp]]: one
    * clustering over the UNION (train + bench share cells, which is
    * what makes cross-frame comparison intra-cell), pair work =
    * train×bench WITHIN a cell only, every decision exact int64 so
    * the DuckDB oracle replays the pipeline clustering included.
    * Output: one row per flagged training vector with its minimal
    * benchmark witness — the drop manifest a decontamination pass
    * ships.
    */
  def semanticDecontamFp(
      corpus: DataFrame, isBench: Column, cells: Int, tNum: Int, tDen: Int,
      iters: Int = 2, scale: Long = 10000000L): DataFrame = {
    requireThreshold(tNum, tDen)
    val fp = pinnedFp(corpus, scale, isBench.as("is_bench"))
    val cents = kmeansCentroidsFp(fp.select("vec_id", "q"), cells, iters)
    val assigned = fp
      .join(assignCellsFp(fp.select("vec_id", "q"), cents), "vec_id")
      .pinLineage()
    semanticDecontamHits(assigned, tNum, tDen)
  }

  // -------------------------------------------------------------------
  // The 100 TB SemDeDup shape (r10): cells ∝ n + IVF-probed
  // assignment. The flat q259/q260 forms size cells ≈ isqrt(n)/2 and
  // assign by the dense n·cells broadcast dot — n^1.5 pair work and
  // n^1.5 assignment work. The published lever (SemDeDup §scaling /
  // the FAISS IVF recipe): hold CLUSTER SIZE constant (cells = n/K ⇒
  // intra-cell pair work is Σ|cell|²/2 ≈ n·K/2, LINEAR), and route
  // assignment through a small fixed COARSE quantizer — each point
  // finds its best coarse cell (n·√cells dots), then argmaxes only
  // over the fine centroids OF THAT COARSE CELL (n·√cells expected) —
  // n·2√cells total instead of n·cells = n²/K. One coarse level is
  // implemented; the same construction nests (coarse-of-coarse) to
  // keep the multiplier bounded at any scale. The DECISION RULE —
  // intra-cell pairs, the cross-multiplied integer threshold, the
  // min-witness pick — is untouched by the swap, and every step stays
  // exact int64, so the scaled operators carry their own full DuckDB
  // replays (q261/q262).
  // -------------------------------------------------------------------

  /** Two-level IVF-probed fixed-point k-means: `cells` fine centroids
    * (seeded from the lowest vec_ids, `iters` Lloyd rounds), with
    * every assignment — in-round and final — probed through a FIXED
    * coarse quantizer of isqrt(cells) centroids (the lowest-vec_id
    * seeds, the same idiom). Per round: fine centroids pick their
    * coarse cell (cells·√cells dots, broadcast); each point picks its
    * best LIVE coarse cell (a coarse cell can lose all fine members —
    * ranking is restricted to live ones so every point stays
    * assigned), then argmaxes over that cell's fine centroids via a
    * gcell-keyed join — the blocked join IS the probe. All argmaxes
    * tie-break (dot DESC, cell ASC); means/normalization are
    * q42RoundCtes' exact integer forms. Returns (vec_id, cell).
    */
  def ivfAssignCellsFp(
      fp: DataFrame, cells: Int, iters: Int,
      centScale: Long = 1000000L): DataFrame =
    ivfIndexFp(fp, cells, iters, centScale)._1

  /** [[ivfAssignCellsFp]] with the index internals exposed for
    * consumers that SEARCH the index rather than only read the
    * assignment: returns (final assignment (vec_id, cell), final fine
    * centroids (cell, cent), coarse centroids (gcell, gcent)). The
    * assignment frame is byte-identical to `ivfAssignCellsFp`'s — the
    * public method delegates here.
    */
  private[llm] def ivfIndexFp(
      fp: DataFrame, cells: Int, iters: Int,
      centScale: Long = 1000000L): (DataFrame, DataFrame, DataFrame) = {
    require(cells > 0 && iters >= 1)
    val g = math.max(1L, graft.ops.Exact.isqrtLong(cells.toLong)).toInt
    val coarse = seedsFp(fp, g, "gcell", "gcent").pinLineage()
    // one probed assignment pass against the CURRENT fine centroids
    def assign(c: DataFrame): DataFrame = probedAssignFp(fp, c, coarse)
    val cents = graft.ops.Rounds.fixed(seedsFp(fp, cells, "cell", "cent"), iters)(
      c => lloydUpdateFp(fp, assign(c), centScale))
    (assign(cents), cents, coarse)
  }

  /** One probed assignment pass of `fp = (vec_id, q, …)` against fine
    * centroids `cents = (cell, cent)` through coarse quantizer
    * `coarse = (gcell, gcent)` — [[ivfIndexFp]]'s per-round assignment,
    * factored out so an ALREADY-BUILT (frozen) index can assign any
    * frame: fine centroids pick their coarse cell, points argmax over
    * the LIVE coarse cells, then only over their coarse cell's fine
    * members (the gcell-keyed blocked join — never the dense n·cells
    * dot). All argmaxes tie-break (dot DESC, cell ASC). Returns
    * (vec_id, cell).
    */
  private[llm] def probedAssignFp(
      fp: DataFrame, cents: DataFrame, coarse: DataFrame): DataFrame = {
    val (fg, live) = coarseOf(cents, coarse)
    val pg = bestCoarse(fp.join(broadcast(live)), Seq("vec_id"), "q")
    // the probe: points meet ONLY their coarse cell's fine
    // centroids — a gcell-keyed join, never the dense n·cells dot
    bestCell(fp.join(pg, "vec_id").join(fg, "gcell"))
  }

  /** An index's fine→coarse map: each fine centroid's coarse cell
    * (cell, cent, gcell) by [[bestCoarse]], and the LIVE coarse
    * centroids (gcell, gcent) — those with at least one fine member,
    * the only ones a point or query may descend into (a coarse cell
    * can lose all fine members, and every point must stay assigned).
    */
  private def coarseOf(cents: DataFrame, coarse: DataFrame): (DataFrame, DataFrame) = {
    val fg = bestCoarse(cents.join(broadcast(coarse)), Seq("cell", "cent"), "cent")
    (fg, coarse.join(fg.select("gcell").distinct(), "gcell"))
  }

  /** Per `keys` row of `pairs = (keys…, gcell, gcent, …)`, the coarse
    * cell whose centroid has the largest integer dot with `vec`, tie →
    * lowest gcell ([[bestCell]]'s partial-aggregable struct max).
    * Returns (keys…, gcell).
    */
  private def bestCoarse(pairs: DataFrame, keys: Seq[String], vec: String): DataFrame =
    pairs
      .select(keys.map(col) :+
        struct(
          VectorFunctions.dotLong(col(vec), col("gcent")).as("dot"),
          (-col("gcell")).as("ng")).as("sc"): _*)
      .groupBy(keys.head, keys.tail: _*)
      .agg(max(col("sc")).as("b"))
      .select(keys.map(col) :+ (-col("b.ng")).cast("int").as("gcell"): _*)

  /** The scaled geometry's cell count, max(2, n div targetCell):
    * constant expected cluster size, so intra-cell pair work is linear.
    */
  private def scaledCells(targetCell: Int, n: => Long): Int = {
    require(targetCell > 1, "targetCell must exceed 1")
    math.max(2L, n / targetCell).toInt
  }

  /** q259's semantic dedup at the 100 TB shape: cells = max(2,
    * n div targetCell) (constant expected cluster size ⇒ LINEAR
    * intra-cell pair work) with [[ivfAssignCellsFp]] clustering. The
    * drop rule, threshold and min-witness pick are byte-identical to
    * [[semanticDedupFp]] — only the blocking geometry changes.
    * `knownRows` takes the parquet-footer count (CorpusStats) so
    * sizing costs no scan.
    */
  def semanticDedupFpScaled(
      corpus: DataFrame, tNum: Int, tDen: Int,
      targetCell: Int = 32, iters: Int = 2, scale: Long = 10000000L,
      knownRows: Option[Long] = None): DataFrame = {
    requireThreshold(tNum, tDen)
    val cells = scaledCells(targetCell, knownRows.getOrElse(corpus.count()))
    val fp = pinnedFp(corpus, scale)
    val assigned = fp.join(ivfAssignCellsFp(fp, cells, iters), "vec_id").pinLineage()
    semanticDupDrops(assigned, tNum, tDen)
  }

  /** q260's semantic decontamination at the same 100 TB shape: one
    * scaled clustering over the union, train×bench pairs within a
    * cell only — [[semanticDecontamFp]]'s rule under
    * [[ivfAssignCellsFp]]'s geometry.
    */
  def semanticDecontamFpScaled(
      corpus: DataFrame, isBench: Column, tNum: Int, tDen: Int,
      targetCell: Int = 32, iters: Int = 2, scale: Long = 10000000L,
      knownRows: Option[Long] = None): DataFrame = {
    requireThreshold(tNum, tDen)
    val cells = scaledCells(targetCell, knownRows.getOrElse(corpus.count()))
    val fp = pinnedFp(corpus, scale, isBench.as("is_bench"))
    val assigned = fp
      .join(ivfAssignCellsFp(fp.select("vec_id", "q"), cells, iters), "vec_id")
      .pinLineage()
    semanticDecontamHits(assigned, tNum, tDen)
  }

  /** INCREMENTAL semantic dedup at the scaled geometry (q265): the
    * batch-vs-base operating mode q88 gives the lexical cascade,
    * applied to the semantic axis. The clustering is built over the
    * BASE frame only — the frozen index a production corpus already
    * maintains — and sized on the BASE count (cells = max(2,
    * n_base div targetCell)); the FULL frame (base and incoming) is
    * then assigned through the frozen two-level probe
    * ([[probedAssignFp]] — 2·√cells dots per vector, the q264 query
    * path applied to ingest), and the pair stage compares INCOMING ×
    * BASE within a cell only: base×base never materializes (it was
    * deduped when it WAS incoming — q88's argument verbatim), and
    * incoming×incoming is the next batch's base×base. Output: one row
    * per flagged incoming vector with its minimal base witness — the
    * same drop-manifest shape as q260, because "is this new vector a
    * semantic dup of the corpus" and "is this training vector a
    * semantic dup of the benchmark" are the same cross-frame question
    * with the frames renamed. Every decision exact int64; the oracle
    * replays the base-only clustering, the frozen-probe assignment of
    * the full frame, and the hit rule.
    */
  def semanticDedupIncrementalFp(
      corpus: DataFrame, isIncoming: Column, tNum: Int, tDen: Int,
      targetCell: Int = 32, iters: Int = 2, scale: Long = 10000000L): DataFrame = {
    requireThreshold(tNum, tDen)
    val fp = pinnedFp(corpus, scale, isIncoming.as("inc"))
    val base = fp.where(!col("inc")).select("vec_id", "q")
    val cells = scaledCells(targetCell, base.count())
    val (_, cents, coarse) = ivfIndexFp(base, cells, iters)
    val assigned = fp
      .join(probedAssignFp(fp.select("vec_id", "q"), cents, coarse), "vec_id")
      .pinLineage()
    // the cross-frame hit rule is q260's with the frames renamed:
    // "bench" = the base corpus, "train" = the incoming batch
    semanticDecontamHits(
      assigned.withColumn("is_bench", !col("inc")), tNum, tDen)
      .withColumnRenamed("bench_witness", "base_witness")
  }

  /** The SemDeDup drop rule over an assigned frame (vec_id, q, cell) —
    * factored so the flat (q259) and scaled (q261) geometries share
    * one decision path byte for byte.
    */
  private def semanticDupDrops(assigned: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    val pairs = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("va"), col("b.vec_id").as("vb"), col("a.cell").as("cell"),
        VectorFunctions.dotLong(col("a.q"), col("b.q")).as("dot_fp"),
        VectorFunctions.dotLong(col("a.q"), col("a.q")).as("na"),
        VectorFunctions.dotLong(col("b.q"), col("b.q")).as("nb"))
    minimalWitness(pairs, tNum, tDen, flagged = "vb", witness = "va", witnessAs = "keeper")
  }

  /** The decontamination hit rule over an assigned frame
    * (vec_id, q, cell, is_bench) — shared by q260 and q262.
    */
  private def semanticDecontamHits(assigned: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    val train = assigned.where(!col("is_bench"))
      .select(col("vec_id").as("tv"), col("q").as("tq"), col("cell"))
    val bench = assigned.where(col("is_bench"))
      .select(col("vec_id").as("bv"), col("q").as("bq"), col("cell"))
    val pairs = train
      .join(bench, Seq("cell"))
      .select(
        col("tv"), col("bv"), col("cell"),
        VectorFunctions.dotLong(col("tq"), col("bq")).as("dot_fp"),
        VectorFunctions.dotLong(col("tq"), col("tq")).as("na"),
        VectorFunctions.dotLong(col("bq"), col("bq")).as("nb"))
    minimalWitness(pairs, tNum, tDen, flagged = "tv", witness = "bv", witnessAs = "bench_witness")
  }

  /** The tail of the drop and hit rules: scored intra-cell pairs
    * (`flagged`, `witness`, cell, dot_fp, na, nb) that clear
    * cos ≥ tNum/tDen, reduced to each flagged vector's minimal witness
    * — the per-flagged frame is the (tiny) hit set, never the corpus.
    * Output (vec_id, `witnessAs`, cell, cos2_bp).
    */
  private def minimalWitness(
      pairs: DataFrame, tNum: Int, tDen: Int,
      flagged: String, witness: String, witnessAs: String): DataFrame = {
    val w = Window.partitionBy(flagged).orderBy(asc(witness))
    pairs
      .where(cosAtLeast(tNum, tDen))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(
        col(flagged).as("vec_id"), col(witness).as(witnessAs),
        col("cell").cast("long").as("cell"),
        VectorFunctions.cos2Bp(col("dot_fp"), col("na"), col("nb")).as("cos2_bp"))
  }

  // ------------------------------------------------------------------
  // Portable forms (round 8): the sign-LSH cascade with every float
  // decision replaced by an exact-integer one (md5-derived planes,
  // fixed-point dots, q29's ranking key, cross-multiplied threshold)
  // so the WHOLE candidate cascade hash-matches a DuckDB oracle — the
  // q31/q32 r7 precedent applied to the ANN axis. These are the forms
  // q37, q38, q217 and q258 run.
  // ------------------------------------------------------------------

  /** Adds the quantizer assignment as a `cell` column:
    * [[VectorFunctions.signBucketPortable]] over `bits` md5-derived
    * planes.
    */
  def withCellsPortable(corpus: DataFrame, bits: Int, dim: Int = 64): DataFrame =
    corpus.withColumn("cell", VectorFunctions.signBucketPortable(col("embedding"), dim, bits))

  /** ANN top-k under the portable quantizer with hamming-≤1
    * multiprobe: each (broadcast) query scores candidates from bits+1
    * cells, ranked by q29's exact key sign(d)·(d²·10⁴ div n) — per
    * query, the anchor norm is constant, so the key is monotone in
    * cosine at 1e-18 resolution; ties broken by vec_id. One scan of
    * the corpus, no N² anywhere. Output is all exact int64.
    */
  def annTopKPortable(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int, dim: Int = 64): DataFrame = {
    val S = graft.llm.LlmQueries.Q29Scale
    val c = withCellsPortable(corpus, bits, dim)
    val probes = array(
      col("cell") +: (0 until bits).map(b => col("cell").bitwiseXOR(lit(1L << b))): _*)
    val q = withCellsPortable(queries, bits, dim)
      .select(
        col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(probes).as("probe"))
    val scored = c
      .join(broadcast(q), col("cell") === col("probe") && col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id"),
        VectorFunctions.dotFp(col("embedding"), col("q_emb"), S).as("dot_fp"),
        VectorFunctions.dotFp(col("embedding"), col("embedding"), S).as("n_fp"),
      )
      .select(col("query_id"), col("vec_id"), col("dot_fp"), signedRankFp.as("rank_fp"))
    val w = Window.partitionBy("query_id").orderBy(desc("rank_fp"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k).drop("rn")
  }

  /** The portable cascade's shared core: banded hamming-≤1 candidate
    * pairs with their exact fixed-point dot and squared norms —
    * (va, vb, dot_fp, na, nb) — surviving `bandPred` (an exact integer
    * predicate over those columns).
    *
    * Shape (r10, stage-traced at a 64× replica): the verify dot runs
    * INSIDE the banded join stage — each side carries its quantized
    * vector and precomputed squared norm through the band explode
    * (n·bits rows of ~d·8 bytes: n·log n, linear-ish), one codegen'd
    * int64 [[VectorFunctions.dotLong]] per banded COLLISION, and the
    * consumer's predicate filters BEFORE the pair distinct. The r9
    * form deduped ALL collisions and then re-joined the corpus twice
    * to score survivors: at the 64× replica that was a 57 M-row
    * distinct exchange plus two 57 M-row sort-merge joins dragging
    * 264-byte embedding arrays — 450 s of the composed operator's
    * 522 s, GC-bound (probes/r10/q224_stagetrace). Filter∘distinct ≡
    * distinct∘filter here because dot/na/nb are deterministic in
    * (va, vb) — so the exchange now carries THRESHOLD SURVIVORS
    * (output-proportional: the whole point of banding) instead of the
    * full collision mass. Multi-band collisions re-score before the
    * dedup (measured 1.7× mean duplicate dots) — integer dots are
    * ~free next to the exchanges they replace. Quantization is
    * per-vector, pre-explode; `vec_quantize_fp` is bit-identical to
    * the `FloatVecDotFp` quantizer (pinned in spec), so every emitted
    * integer is unchanged from the r9 form.
    */
  private[graft] def portableVerifiedPairs(
      corpus: DataFrame, bits: Int, dim: Int, bandPred: Column): DataFrame = {
    val S = graft.llm.LlmQueries.Q29Scale
    val e = withCellsPortable(corpus, bits, dim).select(
      col("vec_id"), col("cell"),
      VectorFunctions.quantizeFp(col("embedding"), S).as("qv"))
    val withNorm = e.select(col("vec_id"), col("cell"), col("qv"),
      VectorFunctions.dotLong(col("qv"), col("qv")).as("nq"))
    bandCollisions(bandKeys(withNorm, bits, "vec_id", "qv", "nq"))
      .select(
        col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        VectorFunctions.dotLong(col("a.qv"), col("b.qv")).as("dot_fp"),
        col("a.nq").as("na"), col("b.nq").as("nb"))
      .where(bandPred)
      .distinct() // same-cell SURVIVORS collide on every masked key
  }

  /** Near-dup pairs under the portable quantizer and an EXACT
    * threshold: cos ≥ tn/td ⟺ d ≥ 0 ∧ td²·d² ≥ tn²·nₐ·n_b — all in
    * DECIMAL(38,0), no float anywhere. Emits the exact integer
    * `cos2_bp` = d²·10⁴ div (nₐ·n_b) (squared cosine in basis points)
    * instead of a rounded float score.
    */
  def annNearDupPairsPortable(corpus: DataFrame, tNum: Int, tDen: Int, bits: Int, dim: Int = 64): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be a rational in (0, 1]")
    portableVerifiedPairs(corpus, bits, dim, cosAtLeast(tNum, tDen))
      .select(
        col("va"), col("vb"), col("dot_fp"),
        VectorFunctions.cos2Bp(col("dot_fp"), col("na"), col("nb")).as("cos2_bp"),
      )
  }

  /** Hard-negative mining on the portable cascade (q217's r8 form):
    * candidate pairs inside the cosine band [loNum/loDen, hiNum/hiDen)
    * — both bounds as EXACT cross-multiplied integer tests — mirrored
    * to both directions so every anchor ranks its own negatives
    * ([[mirroredTopK]]). Output is all exact int64.
    */
  def annHardNegativesPortable(
      corpus: DataFrame, k: Int,
      loNum: Int, loDen: Int, hiNum: Int, hiDen: Int,
      bits: Int, dim: Int = 64): DataFrame = {
    requireBand(loNum, loDen, hiNum, hiDen)
    val band = portableVerifiedPairs(corpus, bits, dim,
      // the band test rides INTO the shared core, ahead of its pair
      // distinct — the dedup exchange carries band members only
      cosInBand(loNum, loDen, hiNum, hiDen))
      .select(col("va"), col("vb"), col("dot_fp"), col("na"), col("nb"))
      // the mirror union reads the band twice; without the pin the
      // whole candidate join (the expensive half) would run twice.
      // pinLineage, not a bare localCheckpoint: the
      // spark.graft.reliableCheckpoints durability hatch must keep
      // covering this path on lossy-executor clusters (r9 ADVICE fix)
      .pinLineage()
    mirroredTopK(band, k)
  }

  /** The hard-negative tail over a pinned undirected band
    * (va, vb, dot_fp, na, nb): each pair mirrored to both directions,
    * then per anchor the top `k` negatives by the q29 integer key
    * computed against the NEGATIVE's norm (the anchor norm is constant
    * within its ranking; d ≥ 0 throughout the band, so the key is the
    * plain quotient). Shared by q217 and q263.
    */
  private def mirroredTopK(band: DataFrame, k: Int): DataFrame = {
    val directed = band
      .select(col("va").as("anchor_id"), col("vb").as("negative_id"),
        col("dot_fp"), col("nb").as("n_neg"), col("na"), col("nb"))
      .unionByName(band
        .select(col("vb").as("anchor_id"), col("va").as("negative_id"),
          col("dot_fp"), col("na").as("n_neg"), col("na"), col("nb")))
      .select(
        col("anchor_id"), col("negative_id"), col("dot_fp"),
        VectorFunctions.rankFp(col("dot_fp"), col("n_neg")).as("rank_fp"),
        VectorFunctions.cos2Bp(col("dot_fp"), col("na"), col("nb")).as("cos2_bp"))
    topKPerAnchor(directed, k)
  }

  /** Per anchor of `scored = (anchor_id, negative_id, dot_fp, rank_fp,
    * cos2_bp)`, the `k` best by (rank_fp DESC, negative_id ASC):
    * (anchor_id, rank, negative_id, dot_fp, cos2_bp).
    */
  private def topKPerAnchor(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("anchor_id").orderBy(desc("rank_fp"), asc("negative_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("anchor_id"), col("rank").cast("long").as("rank"),
        col("negative_id"), col("dot_fp"), col("cos2_bp"))
  }

  /** Directed banded candidates under a DETERMINISTIC per-anchor cap:
    * each vector's hamming-≤1 collision partners, ordered by a
    * portable md5 key (unbiased with respect to ids and geometry —
    * the q31 hash-order idiom) with negative_id as the total-order
    * tie-break, truncated to `cap` per anchor. The cap is the r9
    * answer to q217's 256× probe: on a corpus whose similarity band
    * sits in the BULK of the cosine distribution, true band mass is
    * quadratic and every surfaced pair must be exact-scored — the cap
    * converts that to ≤ N·cap scored rows BY CONTRACT, trading recall
    * the caller can see (the cap is part of the operator's name).
    */
  private[llm] def cappedDirectedCandidates(
      corpus: DataFrame, bits: Int, cap: Int, dim: Int = 64): DataFrame = {
    require(cap > 0)
    val e = withCellsPortable(corpus, bits, dim).select(col("vec_id"), col("cell"))
    // Enumeration shape (r10, measured): the candidate set goes
    // through a whole-stage-codegen HashAggregate distinct on two
    // int64 keys, then one per-anchor md5-order window. A bounded
    // O(cap) per-(anchor, band) buffer BEFORE the distinct (the
    // provably-equivalent pushdown — any global top-cap member has
    // < cap band-local predecessors) was built and probed both ways
    // at 64× replicas: the object-aggregate machinery it needs
    // (ObjectHashAggregate; sort-based fallback at default config,
    // object-buffer churn with the fallback threshold raised) costs
    // 1.9×/3.0× MORE than the exchange it avoids (warm 64×: 103.5 s /
    // 160.8 s vs 53.6 s for this form — probes/r10/). The cap still
    // bounds everything DOWNSTREAM (scoring, band test, ranking run
    // on ≤ N·cap rows); the enumeration itself stays the codegen'd
    // distinct, whose mass is the true banded collision count.
    // Enumeration halving (r10, stage-traced): the directed collision
    // set is mirror-SYMMETRIC — (x, y) collides in band m iff (y, x)
    // does — so enumerating it directed (a ≠ b) pushed 2× the banded
    // collision mass through the join and the dedup exchange (the two
    // stages owning 747 of 773 s at a 64× replica,
    // probes/r10/q258_stagetrace). Enumerate UNDIRECTED (a < b),
    // dedup half the rows, and mirror AFTER the distinct — the
    // directed candidate set, md5 order, and cap selection are
    // byte-identical.
    val undirected = bandCollisions(bandKeys(e, bits, "vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct() // same-cell pairs collide on every masked key
      // the mirror union reads the frame twice; the pin keeps the
      // join + dedup (the expensive half) single-execution — the q217
      // band-pin rationale verbatim (plan-audited: the two union
      // branches do NOT canonicalize to a reusable exchange, the
      // mirror projections sit above distinct aggregates Spark plans
      // separately)
      .pinLineage()
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("__h").asc, col("negative_id").asc)
    undirected
      .select(col("va").as("anchor_id"), col("vb").as("negative_id"))
      .unionByName(undirected
        .select(col("vb").as("anchor_id"), col("va").as("negative_id")))
      .withColumn("__h",
        md5(concat_ws("|", lit("hn"), col("anchor_id").cast("string"),
          col("negative_id").cast("string"))))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= cap)
      .select("anchor_id", "negative_id")
  }

  /** CAPPED hard-negative mining (q258): [[annHardNegativesPortable]]
    * with the candidate stage bounded per anchor — exact scoring, the
    * cross-multiplied band, and the q29 ranking all run on ≤ N·cap
    * rows however dense the band is. With `cap` ≥ the true candidate
    * fan-in the result EQUALS the uncapped operator (spec-pinned);
    * below it, recall trades deterministically (md5 order — unbiased,
    * replayable, and hash-matched by the oracle). Candidates are
    * directed from the start (no mirror union): each anchor caps and
    * ranks its OWN view of the band.
    */
  def annHardNegativesCapped(
      corpus: DataFrame, k: Int,
      loNum: Int, loDen: Int, hiNum: Int, hiDen: Int,
      bits: Int, cap: Int, dim: Int = 64): DataFrame = {
    requireBand(loNum, loDen, hiNum, hiDen)
    val S = graft.llm.LlmQueries.Q29Scale
    val emb = corpus.select(col("vec_id"), col("embedding"))
    val scored = cappedDirectedCandidates(corpus, bits, cap, dim)
      .join(emb.select(col("vec_id").as("anchor_id"), col("embedding").as("ea")), Seq("anchor_id"))
      .join(emb.select(col("vec_id").as("negative_id"), col("embedding").as("eb")), Seq("negative_id"))
      .select(
        col("anchor_id"), col("negative_id"),
        VectorFunctions.dotFp(col("ea"), col("eb"), S).as("dot_fp"),
        VectorFunctions.dotFp(col("ea"), col("ea"), S).as("na"),
        VectorFunctions.dotFp(col("eb"), col("eb"), S).as("nb"))
      .where(cosInBand(loNum, loDen, hiNum, hiDen))
      .select(
        col("anchor_id"), col("negative_id"), col("dot_fp"),
        VectorFunctions.rankFp(col("dot_fp"), col("nb")).as("rank_fp"),
        VectorFunctions.cos2Bp(col("dot_fp"), col("na"), col("nb")).as("cos2_bp"))
    topKPerAnchor(scored, k)
  }

  /** Hard-negative mining at the 100 TB shape (q263): q217's job —
    * per anchor, the top-k negatives in the cosine band
    * [loNum/loDen, hiNum/hiDen) — with candidates blocked by
    * [[ivfAssignCellsFp]]'s cells-∝-n clustering instead of the
    * sign-LSH band join. This is how a production contrastive
    * pipeline actually mines: the IVF index built for retrieval
    * doubles as the negative sampler (cluster-mates ARE the
    * near-but-not-identical pool), and the geometry bounds the work
    * without a cap — intra-cell pairs are Σ|cell|²/2 ≈ n·targetCell/2
    * (LINEAR at constant expected cluster size), and a vector has
    * exactly ONE cell, so candidate pairs are unique BY CONSTRUCTION:
    * the pair-distinct exchange that dominates the banded forms
    * (q217's stage-trace: the 57 M-row dedup) does not exist here at
    * all. The recall trade is the IVF one (band members in foreign
    * cells are unseen) — the same deliberate trade q258 makes via its
    * cap, expressed through blocking geometry instead of truncation.
    *
    * Scoring/band/ranking are q217's exactly: quantized int64 dot
    * inside the pair join (codegen'd [[VectorFunctions.dotLong]]),
    * both band bounds cross-multiplied integer tests, undirected
    * enumeration mirrored to both directions (mirror-symmetry, the
    * q258 halving), per-anchor top-k by the q29 key against the
    * negative's norm. Every emitted integer replays in DuckDB —
    * clustering included — via the q261 CTE chain.
    */
  def annHardNegativesScaled(
      corpus: DataFrame, k: Int,
      loNum: Int, loDen: Int, hiNum: Int, hiDen: Int,
      targetCell: Int = 32, iters: Int = 2,
      knownRows: Option[Long] = None): DataFrame = {
    requireBand(loNum, loDen, hiNum, hiDen)
    val cells = scaledCells(targetCell, knownRows.getOrElse(corpus.count()))
    val fp = pinnedFp(corpus, graft.llm.LlmQueries.Q29Scale)
    val assigned = fp
      .join(ivfAssignCellsFp(fp, cells, iters), "vec_id")
      .select(col("vec_id"), col("q"),
        VectorFunctions.dotLong(col("q"), col("q")).as("nq"), col("cell"))
      .pinLineage()
    // undirected intra-cell pairs, scored IN the join stage, band
    // filter before any exchange — the fused-verify shape with no
    // distinct to fuse into (cell membership is unique)
    val band = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        VectorFunctions.dotLong(col("a.q"), col("b.q")).as("dot_fp"),
        col("a.nq").as("na"), col("b.nq").as("nb"))
      .where(cosInBand(loNum, loDen, hiNum, hiDen))
      // the mirror union reads the band twice; the pin keeps the pair
      // join (the expensive half) single-execution — q217's rationale
      .pinLineage()
    mirroredTopK(band, k)
  }

  /** IVF top-k search at the 100 TB shape (q264): [[kmeansTopKFp]]'s
    * job — per query, the k best corpus vectors by the exact q29
    * integer key — under [[ivfIndexFp]]'s cells-∝-n geometry, with the
    * QUERY path probed through the same two-level quantizer the corpus
    * assignment uses. q42's flat form ranks every query against ALL
    * cells (n_q·cells dots — at cells ∝ n that is the dense assignment
    * cost all over again); here a query dots the √cells coarse
    * centroids once, descends into its best LIVE coarse cell, ranks
    * only THAT cell's fine members (√cells expected), and probes its
    * `nprobe` best fine cells — 2·√cells dots per query, the identical
    * multiplier the corpus-side probe buys, and the construction nests
    * (coarse-of-coarse) when √cells itself grows inconvenient.
    * Candidate scan stays nprobe·targetCell rows per query — CONSTANT
    * at the scaled sizing, vs the flat form's nprobe·√n-sized cells.
    *
    * Every decision — Lloyd rounds, coarse/fine argmaxes (dot DESC,
    * cell ASC), probe ranking, the signed q29 key — is exact int64;
    * the oracle replays the whole index AND the probed search.
    */
  def ivfTopKScaled(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      targetCell: Int = 32,
      iters: Int = 2,
      nprobe: Int = 2,
      scale: Long = 10000000L,
      knownRows: Option[Long] = None): DataFrame = {
    val cells = scaledCells(targetCell, knownRows.getOrElse(corpus.count()))
    val fp = pinnedFp(corpus, scale)
    val (cellOf, cents, coarse) = ivfIndexFp(fp, cells, iters)
    val assigned = fp.join(cellOf, "vec_id").pinLineage()
    // the final centroids' fine→coarse map — the same argmax the last
    // assignment pass ran — for the query descent: query → best live
    // coarse cell, then its nprobe best fine cells WITHIN that cell
    val (fg, live) = coarseOf(cents, coarse)
    val qg = bestCoarse(quantizedQueries(queries, scale).join(broadcast(live)), Seq("query_id", "qq"), "qq")
    probeAndRank(assigned, qg.join(broadcast(fg), "gcell"), nprobe, k)
  }

  // -------------------------------------------------------------------
  // FIXED-POINT PCA (r9) — the dimensionality reduction that fronts
  // ANN at scale (project 64-dim embeddings to a few principal axes
  // before bucketing/search). The q42 move — define every decision of
  // an iterative numeric algorithm over exact integers — applied to
  // power iteration, so q202 and q224 carry real DuckDB oracles. The
  // corpus is touched by two aggregate passes; the d×d scatter they
  // produce is collected and iterated on the driver (topTwoAxesFp).
  //
  // Integer-width plan (S = 1e7 quantization, CS = 1e6 axis scale,
  // T = 5e5 per-round downscale target, dim 64; trunc division always
  // via abs/negate so both engines agree):
  //  - centered values |c| ≤ 2S; scatter entries |A₀| ≤ N·4e14 —
  //    summed in DECIMAL(38,0)/HUGEINT, then uniformly downscaled by
  //    D_A = (max|A₀| div 6e10)+1 so |A| ≤ 6e10 (int64 from here on);
  //  - matvec |Σ A·v| ≤ 64·6e10·(CS+ε) < 3.9e18 < 2⁶³;
  //  - per-round downscale to |w| ≤ T ⇒ ‖w‖ ≤ 4e6, norms ≤ 64·T² =
  //    1.6e13 < 2⁵³ (Exact.isqrt domain), normalized |v| ≤ CS·(1+1/r);
  //  - Gram–Schmidt at fixed-point scale 2¹⁹ = 524288 (the largest
  //    that fits: worst-case |dotw| ≤ ‖w‖·‖a₁‖ ≤ 4e6·4e6 = 1.6e13 even
  //    on the degenerate r=0 path, and 1.6e13·2¹⁹ = 8.4e18 < 2⁶³);
  //    projection components ≤ ‖w‖ ≤ 4e6, the orthogonalized vector
  //    stays ≤ 4.5e6 and its norm² ≤ 1.3e15 < 2⁵³. The coefficient
  //    quantum leaves a parallel residual ≤ ‖a₁‖/2¹⁹ ≈ 2e-6 relative —
  //    axis 2 is therefore the true second direction only when
  //    λ₂/λ₁ ≫ 2e-6 (every realistic spectrum; the spec pins a 20×
  //    fixture). Consumers needing a distance-contraction guarantee
  //    fold the 2e-6 into their safety margin.
  // Seeds are the argmax-diagonal coordinate axes (ties → lowest i;
  // axis 2 excludes axis 1's seed) — deterministic, SQL-trivial, and
  // aligned with the dominant directions. Zero matrices/vectors flow
  // through as honest zeros (D = max div T + 1 ≥ 1; r = 0 keeps w).
  // -------------------------------------------------------------------

  private val FpDownscaleTarget = 500000L

  /** Truncating integer division for y > 0 (both engines' sign-split
    * `div` idiom, as driver code).
    */
  @inline private def truncDiv(x: Long, y: Long): Long =
    if (x < 0) -((-x) / y) else x / y

  /** Top-2 fixed-point axes of a pre-quantized corpus
    * `fp = (vec_id, q: array<long>)`: truncated-mean centering, exact
    * integer scatter matrix (DECIMAL accumulate, uniform downscale),
    * `iters` exact power-iteration rounds per axis (axis 2
    * orthogonalized against the FINAL axis 1 every round — deflation
    * with a fixed pivot, so the axis-1 sequence is untouched), signs
    * pinned. Returns the d-row (i, a1, a2) loading table, both at
    * `centScale`. Every step replayable verbatim in DuckDB.
    *
    * Execution split (the r10 rework, measured not guessed): the ONLY
    * data-scale stage is the scatter — N·d² multiply-adds, distributed
    * with map-side DECIMAL combine. Everything after operates on the
    * d×d matrix, which is BOUNDED BY THE EMBEDDING DIMENSION (d² = 4096
    * longs at d = 64) and independent of corpus size — so it is
    * collected once (the same driver-safety class as RawSink's
    * metadata-sized seal list or a broadcast build) and the 2·iters
    * power rounds run as exact int64 driver arithmetic. The previous
    * form ran each round as distributed jobs over 64-row frames with
    * per-round checkpoints: ~12.5 s of pure scheduling at ANY corpus
    * size (the profiled r9 sf0.1 cost — the rounds themselves are
    * microseconds of integer math). Same integers bit for bit: each
    * driver op mirrors one oracle CTE (matvec, `div`-downscale,
    * isqrt-normalize, 2¹⁹-coefficient deflation, sign pin), with
    * `Math.*Exact` making any width-plan violation loud.
    */
  def topTwoAxesFp(fp: DataFrame, iters: Int = 8, centScale: Long = 1000000L): DataFrame = {
    require(iters >= 1)
    val spark = fp.sparkSession
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("a1", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("a2", org.apache.spark.sql.types.LongType, nullable = false)))
    // one-pass exact aggregates (r10): Σq + the row count, then the
    // scatter of the rows centered on the truncated integer mean —
    // two N-row aggregate passes whose exchanges carry d-/d²-sized
    // STATES, in place of the r9 N·d mean explode and N·d² scatter
    // explode through a hash aggregate (the dominant term of q202/q224
    // at replica scale; same integers bit for bit — see
    // [[graft.expressions.VectorAggregates]])
    val sumRow = fp.agg(
      VectorFunctions.vecSumLong(col("q")).as("s"), count(lit(1)).as("n")).head()
    val n = sumRow.getLong(1)
    if (n == 0L)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    val mArr: Array[Long] = sumRow.getSeq[Long](0)
      .map(s => if (s < 0) -((-s) / n) else s / n).toArray
    val flat = fp.agg(VectorFunctions.scatterMatrix(
        VectorFunctions.subLong(col("q"), typedlit(mArr.toSeq))).as("a0"))
      .head().getSeq[java.math.BigDecimal](0) // d² values — dimension-bounded, never corpus-bounded
    // ---- driver-exact integer power iteration (mirrors the oracle
    // CTE chain `ap`/`dg`/`k1`/`v*_t` op for op) ----
    val dim = mArr.length
    val a0m = Array.tabulate(dim, dim)((i, j) => BigInt(flat(i * dim + j).toBigInteger))
    val maxA = a0m.iterator.flatten.map(_.abs).max
    val dA = maxA / 60000000000L + 1 // operands non-negative: BigInt / = div
    val am = Array.tabulate(dim, dim) { (i, j) =>
      val v = a0m(i)(j)
      (if (v.signum < 0) -((-v) / dA) else v / dA).toLong
    }
    def matvec(v: Array[Long]): Array[Long] =
      Array.tabulate(dim) { i =>
        var s = 0L; var j = 0
        while (j < dim) { s = Math.addExact(s, Math.multiplyExact(am(i)(j), v(j))); j += 1 }
        s
      }
    def downscale(w: Array[Long]): Array[Long] = {
      val dw = w.iterator.map(math.abs).max / FpDownscaleTarget + 1
      w.map(truncDiv(_, dw))
    }
    def normalize(w: Array[Long]): Array[Long] = {
      var n2 = 0L
      w.foreach(x => n2 = Math.addExact(n2, Math.multiplyExact(x, x)))
      val r = graft.ops.Exact.isqrtLong(n2)
      if (r == 0L) w
      else w.map(x => truncDiv(Math.multiplyExact(x, centScale), r))
    }
    def signPin(v: Array[Long]): Array[Long] = {
      val s = if (v.sum >= 0) 1L else -1L
      v.map(_ * s)
    }
    def seed(k: Int): Array[Long] =
      Array.tabulate(dim)(i => if (i == k) centScale else 0L)
    // argmax diagonal, ties → lowest i (the oracle's ORDER BY a DESC, i)
    val diag = Array.tabulate(dim)(i => (am(i)(i), i))
    val k1 = diag.maxBy { case (a, i) => (a, -i) }._2
    var v1 = seed(k1)
    for (_ <- 1 to iters) v1 = normalize(downscale(matvec(v1)))
    val a1 = signPin(v1)
    def orth(w: Array[Long]): Array[Long] = {
      var dw = 0L; var d11 = 0L
      var i = 0
      while (i < dim) {
        dw = Math.addExact(dw, Math.multiplyExact(w(i), a1(i)))
        d11 = Math.addExact(d11, Math.multiplyExact(a1(i), a1(i)))
        i += 1
      }
      if (d11 == 0L) w
      else {
        val coef = truncDiv(Math.multiplyExact(dw, 524288L), d11)
        Array.tabulate(dim) { i =>
          val p = Math.multiplyExact(coef, a1(i))
          Math.subtractExact(w(i), truncDiv(p, 524288L))
        }
      }
    }
    val k2 = diag.filter(_._2 != k1).maxBy { case (a, i) => (a, -i) }._2
    var v2 = seed(k2)
    for (_ <- 1 to iters) v2 = normalize(orth(downscale(matvec(v2))))
    val a2 = signPin(v2)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](dim)
    for (i <- 0 until dim) rows.add(org.apache.spark.sql.Row(i, a1(i), a2(i)))
    spark.createDataFrame(rows, outSchema)
  }

  /** Exact integer projections of a pre-quantized corpus onto fp axes:
    * center on the truncated integer means, dot against both axes —
    * (vec_id, p1_fp, p2_fp) at scale S·CS per unit²
    * (|p| ≤ 64·2S·(CS+ε) ≈ 1.3e15, int64-exact).
    */
  def projectFpOnAxes(fp: DataFrame, axes: DataFrame): DataFrame = {
    // one-pass exact mean (r10): same integers as the r9 N·d explode →
    // groupBy(i) form, as a single d-long aggregate state
    val sumRow = fp.agg(
      VectorFunctions.vecSumLong(col("q")).as("s"), count(lit(1)).as("n")).head()
    val n = sumRow.getLong(1)
    val mArr: Seq[Long] =
      if (n == 0L) Seq.empty
      else sumRow.getSeq[Long](0).map(s => if (s < 0) -((-s) / n) else s / n)
    val a1arr = axes.agg(
      expr("transform(array_sort(collect_list(struct(i, a1))), s -> s.a1)").as("a1arr"))
    val a2arr = axes.agg(
      expr("transform(array_sort(collect_list(struct(i, a2))), s -> s.a2)").as("a2arr"))
    // dot is linear, so the centered projection splits exactly in ℤ:
    // Σ(xᵢ−mᵢ)·aᵢ = dot(q,a) − dot(m,a) — two fully-codegen'd
    // LongVecDot passes instead of an interpreted (CodegenFallback)
    // zip_with materializing the centered array per row per axis.
    // The m-term is row-constant (64 codegen'd multiplies — cheaper
    // than any mechanism to hoist it); bounds unchanged (each split
    // term ≤ 64·S·(CS+ε) ≈ 6.4e14 < the documented 1.3e15 envelope).
    fp.crossJoin(broadcast(a1arr))
      .crossJoin(broadcast(a2arr))
      .select(col("vec_id"),
        (VectorFunctions.dotLong(col("q"), col("a1arr")) -
          VectorFunctions.dotLong(typedlit(mArr), col("a1arr"))).as("p1_fp"),
        (VectorFunctions.dotLong(col("q"), col("a2arr")) -
          VectorFunctions.dotLong(typedlit(mArr), col("a2arr"))).as("p2_fp"))
  }

  /** Fixed-point PCA projection (q202's r9 form): quantize, learn the
    * fixed-point top-2 axes, and project — every step integer-exact
    * and hash-matched by the DuckDB replay.
    */
  def pcaProjectFp(
      corpus: DataFrame, iters: Int = 8,
      scale: Long = 10000000L, centScale: Long = 1000000L): DataFrame = {
    val fp = pinnedFp(corpus, scale)
    projectFpOnAxes(fp, topTwoAxesFp(fp, iters, centScale))
  }

  /** Exact-isqrt L2 normalization of a quantized corpus: each
    * component sign·((|x|·scale) div ⌊‖q‖⌋) — unit vectors at scale S,
    * zero vectors pass through. Near-unit inputs keep |x·scale| ≤ 1e14
    * (the Q29Scale precondition); ‖q‖² ≤ 64·S² < 2⁵³ = isqrt's domain.
    */
  def l2NormalizeFp(fp: DataFrame, scale: Long = 10000000L): DataFrame =
    // one codegen'd per-row pass (LongVecL2NormFp) — same integers as
    // the explode→join→groupBy form it replaced (r ties to components
    // within one row, so the per-row fusion is semantically free), but
    // ZERO shuffles instead of two over N·dim element rows
    fp.select(col("vec_id"), VectorFunctions.l2NormFp(col("q"), scale).as("q"))

  /** The fixed-point grid cell width for threshold tn/td at p'-scale
    * CS (1e6 = one unit of projected distance): ceiling-isqrt of
    * 2(1−t)·CS² — CEILING, not floor: wider cells keep the
    * contraction-losslessness direction — plus a 1/1024 + 8-quantum
    * safety margin that dominates every fixed-point error source
    * (axis-norm quantum ~2e-6, qn rounding, projection truncation).
    */
  def gridWidthFp(tNum: Int, tDen: Int): Long = {
    val w0 = graft.ops.Exact.isqrtLong(2L * (tDen - tNum) * 1000000000000L / tDen) + 1
    w0 + w0 / 1024 + 8
  }

  /** Fixed-point grid cells: projections downscaled to p'-scale 1e6
    * (sign-split truncation), FLOOR-divided by the cell width (floor,
    * not trunc — negative coordinates must not fold onto cell 0).
    *
    * Why the 3×3 probe is LOSSLESS: on L2-normalized vectors
    * cos(x,y) ≥ t ⟺ ‖x̂−ŷ‖ ≤ √(2(1−t)), and an orthonormal projection
    * contracts distance, so the two members of a qualifying pair land
    * within one cell width of each other on both axes — recall 1.0 by
    * construction, unlike sign-LSH's probabilistic recall.
    */
  def gridCellsFp(fp: DataFrame, axes: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    val w = gridWidthFp(tNum, tDen)
    projectFpOnAxes(fp, axes)
      .select(col("vec_id"),
        when(col("p1_fp") < 0, -expr("(-p1_fp) div 10000000"))
          .otherwise(expr("p1_fp div 10000000")).as("d1"),
        when(col("p2_fp") < 0, -expr("(-p2_fp) div 10000000"))
          .otherwise(expr("p2_fp div 10000000")).as("d2"))
      .select(col("vec_id"),
        when(col("d1") >= 0, expr(s"d1 div $w"))
          .otherwise(-expr(s"((-d1) + $w - 1) div $w")).as("cx"),
        when(col("d2") >= 0, expr(s"d2 div $w"))
          .otherwise(-expr(s"((-d2) + $w - 1) div $w")).as("cy"))
  }

  /** Candidate pairs the 3×3 grid probe would generate over the fp
    * cells, computed from the CELL HISTOGRAM only — tiny (≤ occupied
    * cells squared per probe window), never touches vectors, integer
    * end to end. The statistic [[adaptiveNearDupPairsFp]] plans from.
    */
  def gridImpliedCandidatesFp(cells: DataFrame): Long = {
    val hist = cells.groupBy("cx", "cy").agg(count(lit(1)).as("n"))
    val ordered = hist.as("a")
      .join(hist.as("b"),
        abs(col("a.cx") - col("b.cx")) <= 1 && abs(col("a.cy") - col("b.cy")) <= 1)
      .agg(coalesce(sum(col("a.n") * col("b.n")), lit(0L)).cast("long"))
      .head().getLong(0)
    val n = cells.count()
    (ordered - n) / 2 // drop self-pairs, halve the mirror
  }

  /** Grid-branch pairs under the exact integer threshold: 3×3 probe
    * equijoin on the fp cells, verify d ≥ 0 ∧ td²·d² ≥ tn²·nₐ·n_b on
    * RAW fp vectors (same test as the sign-LSH branch, so both
    * branches emit identical values for identical pairs). Output
    * (va, vb, dot_fp, cos2_bp) — all int64.
    */
  private def gridPairsFp(fpRaw: DataFrame, cells: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    val probes = cells.select(
      col("vec_id"),
      explode(expr("flatten(transform(sequence(-1, 1), dx -> transform(sequence(-1, 1), dy -> struct(cx + dx AS cx, cy + dy AS cy))))"))
        .as("cell"))
      .select(col("vec_id"), col("cell.cx").as("cx"), col("cell.cy").as("cy"))
    val cand = probes.as("a")
      .join(cells.as("b"),
        col("a.cx") === col("b.cx") && col("a.cy") === col("b.cy") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct() // near-boundary pairs can meet in 2 probe windows
    cand
      .join(fpRaw.select(col("vec_id").as("va"), col("q").as("qa")), Seq("va"))
      .join(fpRaw.select(col("vec_id").as("vb"), col("q").as("qb")), Seq("vb"))
      .select(col("va"), col("vb"),
        VectorFunctions.dotLong(col("qa"), col("qb")).as("dot_fp"),
        VectorFunctions.dotLong(col("qa"), col("qa")).as("na"),
        VectorFunctions.dotLong(col("qb"), col("qb")).as("nb"))
      .where(cosAtLeast(tNum, tDen))
      .select(col("va"), col("vb"), col("dot_fp"),
        VectorFunctions.cos2Bp(col("dot_fp"), col("na"), col("nb")).as("cos2_bp"))
  }

  /** Near-dup pairs (va, vb, dot_fp, cos2_bp) at cos ≥ tNum/tDen with
    * the physical strategy chosen FROM DATA STATISTICS (q224) — the AQE
    * pattern applied to blocking. The lossless PCA grid only thins when
    * the top-2 axes carry real variance (clustered / anisotropic
    * corpora — which near-dup-rich corpora are); on an ISOTROPIC corpus
    * every projection-, pivot-, or box-based lossless filter
    * degenerates to all-pairs (distance concentration), so the scale
    * fallback is the linear portable sign-LSH generator with exact
    * verification (probabilistic recall, the documented q38 trade).
    * The grid branch is taken when the cell histogram
    * ([[gridImpliedCandidatesFp]]) implies ≤ budgetFactor·N candidates.
    *
    * Every decision is integer-exact: fp normalization
    * ([[l2NormalizeFp]]), fp axes ([[topTwoAxesFp]]), fp
    * projections/cells (ceiling width + documented safety margin keeps
    * the grid branch lossless under the fixed-point error budget), the
    * histogram decision, and the cross-multiplied threshold on both
    * branches. Both branches and the CHOICE replay verbatim in DuckDB.
    * On a rank-deficient corpus (e.g. many exact duplicates) the axes
    * come back as honest zeros, every projection lands in cell 0 and
    * the grid still verifies every pair: wrong candidates cost work,
    * never answers.
    */
  def adaptiveNearDupPairsFp(
      corpus: DataFrame,
      tNum: Int, tDen: Int,
      iters: Int = 6,
      budgetFactor: Int = 8,
      scale: Long = 10000000L,
      knownRows: Option[Long] = None): DataFrame = {
    require(tNum > 0 && tDen > 0 && 9L * tNum >= 7L * tDen,
      s"adaptive near-dup needs threshold >= 7/9 (got $tNum/$tDen): below it the 3x3" +
        " probe cannot thin ANY corpus and grid applicability is moot")
    // callers reading a parquet corpus pass the footer count
    // (CorpusStats) — same integer, no sizing scan
    val n = knownRows.getOrElse(corpus.count())
    val fpRaw = pinnedFp(corpus, scale)
    val fpNorm = l2NormalizeFp(fpRaw, scale).pinLineage()
    val cells = gridCellsFp(fpNorm, topTwoAxesFp(fpNorm, iters), tNum, tDen)
      .pinLineage() // the index artifact: N×3, read by histogram + join
    if (gridImpliedCandidatesFp(cells) <= budgetFactor.toLong * n)
      gridPairsFp(fpRaw, cells, tNum, tDen)
    else annNearDupPairsPortable(corpus, tNum, tDen, cellBits(n))
  }
}
