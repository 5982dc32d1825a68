package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.RddShim

import graft.ops.Pin.PinOps

/** Connected components over an edge list by iterated min-label
  * propagation — the step that turns near-duplicate PAIRS (q30/q41/q38
  * output) into dedup CLUSTERS so a pipeline can keep one canonical
  * document per cluster. Spark has no built-in graph operator surface
  * in SQL; this is the DataFrame-native form:
  *
  *  - every vertex starts labeled with itself;
  *  - each round, labels flow across edges and each vertex keeps the
  *    MINIMUM label seen (one join + one map-side-combined groupBy);
  *  - stop when a round changes nothing.
  *
  * Rounds needed ≈ the min-vertex's eccentricity (~component
  * diameter: the min label walks one hop per round) — dedup clusters
  * are short-diameter (near-dup similarity is transitive-ish), so
  * this converges in a handful of rounds. The driver only runs the
  * loop and a 1-row convergence probe per round; all data stays
  * distributed. The rounds run on [[Rounds.iterate]], which pins each
  * round's label frame (the iterative-algorithm analog of the q41
  * cascade's materialization barrier).
  *
  * At larger diameters the classic large-star/small-star alternation
  * (Kiveris et al., "Connected Components in MapReduce and Beyond")
  * brings rounds down to O(log² n); the propagation core below is
  * unchanged.
  */
object Components {

  /** @return (v, comp) — comp is the minimum vertex id in v's component.
    *         Vertices not in `edges` don't appear (callers union-in
    *         singletons if they need them).
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 20,
  ): DataFrame = {
    // undirected: propagate both ways
    val sym = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .pinLineage(eager = true) // edges are re-joined every round
    // Convergence probe: per-vertex labels only ever DECREASE (min of
    // a set containing the old label), so the exact label sum is
    // strictly monotone in every changing round — sum equality ⇔ no
    // label moved. One 1-row aggregate over the pinned frame, replacing
    // the old prop⋈labels comparison join (one fewer shuffle job per
    // round; at bench scale the per-round fixed costs ARE the
    // operator's cost). DECIMAL(38,0): exact at any vertex-id magnitude
    // and order-independent.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(
        sum(col("comp").cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    val out = Rounds.iterate(
        sym.select(col("a").as("v")).distinct().withColumn("comp", col("v")), maxIter)(labelSum) {
      (labels, _) =>
        sym.join(labels, col("a") === col("v"))
          .select(col("b").as("v"), col("comp"))
          .union(labels.select(col("v"), col("comp")))
          .groupBy("v").agg(min(col("comp")).as("comp"))
    }((prev, s) => prev.exists(_.compareTo(s) == 0))
    RddShim.unpersistPinned(sym)
    require(out.stopped, s"connectedComponents did not converge in $maxIter rounds " +
      "(diameter larger than expected — raise maxIter or use connectedComponentsStar)")
    out.state
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the O(log² n)-round path for graphs whose diameter
    * min-label propagation's one-hop-per-round walk cannot afford
    * (long chains, general graphs). Near-dup clusters are shallow, so
    * [[connectedComponents]] stays the default there; this is the
    * operator a user points at a graph of unknown shape.
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ u) — long tails collapse toward minima;
    *  - small-star(u): with edges directed larger→smaller, every
    *    smaller neighbor (and u itself) re-attaches to the minimum —
    *    local stars flatten;
    *  - fixed point: the edge set is a union of stars centered at
    *    component minima.
    *
    * Both steps are one groupBy + one equijoin on the edge frame —
    * shuffle-bounded by the CURRENT edge set, which only shrinks
    * toward one edge per non-minimum vertex. Rounds run on
    * [[Rounds.iterate]] with a 1-row fixed-point probe.
    */
  def connectedComponentsStar(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 50,
  ): DataFrame = {
    // every vertex of the ORIGINAL graph keeps a label, including ones
    // isolated by self-loop-only membership (contraction drops loops)
    val verts = edges.select(col(srcCol).as("v"))
      .union(edges.select(col(dstCol).as("v")))
      .distinct()
      .pinLineage(eager = true)

    def canon(e: DataFrame): DataFrame =
      e.where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      sym.join(mins, "a")
        .where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      val mins = dir.groupBy("u").agg(min(col("v")).as("m")) // m < u always
      dir.join(mins, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(mins.select(col("u").as("a"), col("m").as("b")))
    }

    // Fixpoint probe: every star-step output edge is attributable to
    // an input edge (or per-vertex group) of ≥ sum — largeStar maps
    // (u,v) to (v, m≤u); smallStar's per-u group of k re-attachments
    // plus one min-edge sums to (v₁−u)(k−1) ≤ 0 versus its inputs —
    // and canon's dedup only removes edges, whose sums are ≥ 0 once
    // ids are non-negative. So the exact sum of (a+b) over the
    // canonical edge set strictly DECREASES on any set change and is
    // equal only at the fixed point: one 1-row aggregate per round
    // instead of the previous count + anti-join pair (the propagation
    // loop's label-sum trick). The non-negativity the argument needs
    // is checked on the same aggregate, for free; with it every
    // canonical edge sums to ≥ 1, so a zero sum is the empty edge set.
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def edgeSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum((col("a") + col("b")).cast(dec38)), min(col("a"))).head()
      require(r.isNullAt(1) || r.get(1).asInstanceOf[Number].longValue() >= 0L,
        "connectedComponentsStar's fixpoint probe requires non-negative vertex ids")
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    val out = Rounds.iterate(canon(edges.select(col(srcCol).as("a"), col(dstCol).as("b"))), maxIter)(
      edgeSum)((e, _) => canon(smallStar(largeStar(e))))(
      (prev, s) => s.signum == 0 || prev.exists(_.compareTo(s) == 0))
    require(out.stopped, s"connectedComponentsStar did not converge in $maxIter rounds")
    val e = out.state
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val labels = sym.groupBy("a").agg(min(col("b")).as("mb"))
      .select(col("a").as("v"), least(col("a"), col("mb")).as("comp"))
    verts.join(labels, Seq("v"), "left_outer")
      .select(col("v"), coalesce(col("comp"), col("v")).as("comp"))
  }
}
