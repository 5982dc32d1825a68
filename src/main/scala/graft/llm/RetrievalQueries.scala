package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{QuerySpec, Tables}

/** q123/q126: retrieval scoring and weighted sampling over the
  * document corpus — the ranked-selection surface between the exact
  * dedup family (what to DROP) and the mixing/split family (q65/q66,
  * what to KEEP): BM25 scores documents against a term query; A-ES
  * weighted sampling draws a reproducible size-biased sample.
  */
object RetrievalQueries {
  import Tables._

  // ---------------------------------------------------------------------
  // q123 — BM25 retrieval scoring (Robertson/Spärck Jones, k1 = 1.2,
  // b = 0.75) of every document against a fixed 3-term query. tf/df/
  // dl/avgdl all derive from the suite's pinned whitespace tokenizer
  // (the q33 rule), so the score inputs are integer-exact; the one
  // float step (ln · fraction chain) is written with IDENTICAL
  // associativity in both engines over those identical integers, and
  // the output lands as floor(score·10³) — engines would have to
  // disagree by ~10⁻¹³ ulps AND straddle a milli boundary to differ.
  //
  // Scale: corpus stats (N, Σdl) and per-term dfs are two 1-row
  // aggregates riding cross-join anchors (the q79 rule — never a
  // driver collect); per-doc tf extraction is a codegen'd
  // higher-order filter over the token array, no shuffle until the
  // final order. Query terms are a constant — a query SET would
  // broadcast and the same plan serves (term, doc) scoring.
  val K1 = 1.2
  val B = 0.75
  val Terms = Seq("spark", "vector", "merge")

  /** (doc_id, score): the q123 BM25 scorer, shared with q127's fusion.
    * All inputs integer-exact; one float chain with pinned
    * associativity (see q123 notes).
    */
  private def bm25Scored(s: org.apache.spark.sql.SparkSession, d: String) = {
    val toks = split(col("text"), " ")
    val base = documents(s, d).select(
      (col("doc_id") +: size(toks).as("dl") +: Terms.zipWithIndex.map {
        case (t, i) => size(filter(toks, w => w === lit(t))).as(s"tf$i")
      }): _*)
    val dfCols = Terms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1).otherwise(0)).as(s"df$i"))
    val stats = base.agg(
      count(lit(1)).as("n"),
      ((sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +: dfCols): _*)
    def termScore(i: Int): Column = {
      val idf = log((col("n").cast("double") - col(s"df$i") + 0.5) /
        (col(s"df$i") + 0.5) + 1.0)
      idf * (col(s"tf$i") * (K1 + 1.0)) /
        (col(s"tf$i") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))
    }
    base.crossJoin(stats) // 1-row corpus anchor
      .withColumn("score", Terms.indices.map(termScore).reduce(_ + _))
      .select(col("doc_id"), col("score"))
  }

  /** [[bm25Scored]] as DuckDB CTEs (tfs, stats, scored): per-document
    * term frequencies and length, corpus document frequencies and mean
    * length, and `scored (doc_id, score)` — shared by the q123 and q127
    * oracles.
    */
  private val bm25CteSql: String = {
    def tf(i: Int, t: String) =
      s"len(list_filter(string_split(text,' '), w -> w = '$t')) AS tf$i"
    def scoreTerm(i: Int) =
      s"ln((CAST(n AS DOUBLE) - df$i + 0.5)/(df$i + 0.5) + 1.0) * " +
        s"(tf$i * ${K1 + 1.0})/(tf$i + $K1 * ((1.0 - $B) + $B * dl/avgdl))"
    "tfs AS (SELECT doc_id, len(string_split(text,' ')) AS dl, " +
      Terms.zipWithIndex.map { case (t, i) => tf(i, t) }.mkString(", ") +
      " FROM documents), " +
      "stats AS (SELECT count(*) AS n, " +
      "CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl, " +
      Terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ") +
      " FROM tfs), " +
      "scored AS (SELECT doc_id, " +
      Terms.indices.map(scoreTerm).mkString(" + ") + " AS score FROM tfs, stats)"
  }

  val q123: QuerySpec = QuerySpec(
    "q123_bm25_score",
    (s, d) => {
      bm25Scored(s, d)
        .where(col("score") > 0)
        .select(col("doc_id"),
          floor(col("score") * 1000).cast("long").as("score_milli"))
        .orderBy(desc("score_milli"), col("doc_id"))
    },
    Some(
      s"WITH $bm25CteSql " +
        "SELECT doc_id, CAST(floor(score * 1000) AS BIGINT) AS score_milli " +
        "FROM scored WHERE score > 0 ORDER BY score_milli DESC, doc_id"
    ),
  )

  // ---------------------------------------------------------------------
  // q127 — reciprocal-rank fusion (RRF, k = 60) of two retrieval
  // lists: the q123 BM25 ranking and a length-prior ranking (n_chars
  // desc — the "quality prior" a retrieval stack fuses when it has no
  // second scorer). Fusion operates on BOUNDED top-N lists (N = 100),
  // which is what makes it scale-exempt from the q109 rule: each list
  // is a TakeOrderedAndProject (distributed top-k), and the only
  // single-partition work is ranking and fusing ≤2N rows — constant,
  // whatever the corpus size. Ranks are exact integers; the one float
  // step (1/(60+r) sum) is two roundings on identical integers in
  // both engines, floored to pico units.
  val RrfK = 60
  val ListN = 100
  val FusedK = 20

  val q127: QuerySpec = QuerySpec(
    "q127_rrf_fusion",
    (s, d) => {
      val wA = Window.orderBy(desc("score"), col("doc_id"))
      val listA = bm25Scored(s, d).where(col("score") > 0)
        .orderBy(desc("score"), col("doc_id")).limit(ListN)
        .select(col("doc_id"), row_number().over(wA).cast("long").as("ra"))
      val wB = Window.orderBy(desc("n_chars"), col("doc_id"))
      val listB = documents(s, d).select("doc_id", "n_chars")
        .orderBy(desc("n_chars"), col("doc_id")).limit(ListN)
        .select(col("doc_id"), row_number().over(wB).cast("long").as("rb"))
      listA.join(listB, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(lit(1.0) / (lit(RrfK) + col("ra")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("rb")), lit(0.0))).as("rrf"),
          col("ra"), col("rb"))
        .select(col("doc_id"),
          floor(col("rrf") * 1e12).cast("long").as("rrf_pico"),
          col("ra"), col("rb"))
        .orderBy(desc("rrf_pico"), col("doc_id"))
        .limit(FusedK)
    },
    Some {
      s"WITH $bm25CteSql, " +
        "la AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS ra " +
        s"FROM scored WHERE score > 0 ORDER BY score DESC, doc_id LIMIT $ListN), " +
        "lb AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rb " +
        s"FROM documents ORDER BY n_chars DESC, doc_id LIMIT $ListN), " +
        "fused AS (SELECT coalesce(la.doc_id, lb.doc_id) AS doc_id, " +
        s"coalesce(CAST(1 AS DOUBLE)/($RrfK+ra), CAST(0 AS DOUBLE)) + " +
        s"coalesce(CAST(1 AS DOUBLE)/($RrfK+rb), CAST(0 AS DOUBLE)) AS rrf, ra, rb " +
        "FROM la FULL OUTER JOIN lb ON la.doc_id = lb.doc_id) " +
        "SELECT doc_id, CAST(floor(rrf*1e12) AS BIGINT) AS rrf_pico, ra, rb " +
        s"FROM fused ORDER BY rrf_pico DESC, doc_id LIMIT $FusedK"
    },
  )

  // ---------------------------------------------------------------------
  // q126 — weighted sampling without replacement (Efraimidis–Spirakis
  // A-ES): per source, the 5 documents with the largest u^(1/w) —
  // equivalently ln(u)/w — where w = n_chars and u is a salted-md5
  // uniform draw (the q65 reproducibility rule: the "randomness"
  // rides on content ids, so any engine — and any re-run — draws the
  // same sample). Size-biased selection is how corpus curation
  // samples "representative by volume" without a sampler's RNG state.
  //
  // Determinism: selection-only output — the ln is a monotone
  // reparameterization, so a cross-libm ulp difference flips the
  // sample only if two keys within one source tie to ~10⁻¹⁵, which
  // md5-derived uniforms don't do.
  //
  // Scale: one hash + one ln per row, then a per-source top-5 —
  // rank-within-group over uniform group keys; the K=5 bound makes
  // the [[graft.functions.TopK]] bounded-buffer aggregator the
  // 100 TB swap-in (the q77 note applies verbatim).
  val SampleK = 5

  val q126: QuerySpec = QuerySpec(
    "q126_weighted_sample",
    (s, d) => {
      val h = conv(
        substring(md5(concat(lit("graft-ws:"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("long")
      val key = log((h + 1).cast("double") / 4294967298.0) / col("n_chars")
      val w = Window.partitionBy("source").orderBy(desc("es_key"), col("doc_id"))
      documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"), key.as("es_key"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= SampleK)
        .select("source", "doc_id", "n_chars")
        .orderBy("source", "doc_id")
    },
    Some(
      "WITH keyed AS (SELECT source, doc_id, n_chars, " +
        "ln((CAST(('0x' || substr(md5('graft-ws:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1) " +
        "/ 4294967298.0) / n_chars AS es_key FROM documents), " +
        "ranked AS (SELECT source, doc_id, n_chars, " +
        "row_number() OVER (PARTITION BY source ORDER BY es_key DESC, doc_id) AS rk FROM keyed) " +
        s"SELECT source, doc_id, n_chars FROM ranked WHERE rk <= $SampleK ORDER BY source, doc_id"
    ),
  )

  val all: Seq[QuerySpec] = Seq(q123, q126, q127)
}
