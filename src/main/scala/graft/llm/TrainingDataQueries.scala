package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{TextFunctions => TF}
import graft.ops.QuerySpec
import graft.ops.Tables._

/** q65–q70: dataset-assembly operators for training-data pipelines —
  * deterministic splits, mixture weighting, redaction, context-window
  * chunking, and sequence packing. These are the steps between "corpus
  * is clean" (q25–q44) and "batches reach the trainer".
  *
  * Determinism is the design center: every sampling decision derives
  * from a salted md5 of the row's stable id, never from `rand()` — so
  * a re-run, a task retry, or an incremental backfill makes the exact
  * same keep/drop decision (the q46 salting lesson applied to
  * sampling). Hash-derived decisions also need no global state: no
  * count pass, no broadcast of sampled ids, each row decides locally —
  * the only property that survives 100 TB.
  *
  * Split/mix thresholds compare the first two hex chars of the digest
  * lexicographically ('cd' ⇒ 205/256 ≈ 80.1%): hex-prefix ranges are
  * portable across every engine that can md5 a string, which is what
  * makes these rules oracle-checkable and, in production, auditable
  * from any SQL engine over the same table.
  */
object TrainingDataQueries {

  /** First two hex chars of a salted content-id digest — a uniform
    * draw in {00..ff} that any engine reproduces bit-for-bit.
    */
  private def hexDraw(salt: String, id: Column): Column =
    substring(md5(concat(lit(salt), id.cast("string"))), 1, 2)

  private def hexDrawSql(salt: String, id: String): String =
    s"substring(md5('$salt' || CAST($id AS VARCHAR)), 1, 2)"

  /** q65's split rule — the SINGLE source for split assignment; q75's
    * decontamination report must evaluate the same assignment the
    * pipeline ships, so both build from here (Scala and SQL alike).
    */
  def splitCol(id: Column): Column = {
    val h = hexDraw("graft-split:", id)
    when(h < "cd", "train").when(h < "e6", "val").otherwise("test")
  }

  def splitCaseSql(id: String): String = {
    val h = hexDrawSql("graft-split:", id)
    s"CASE WHEN $h < 'cd' THEN 'train' WHEN $h < 'e6' THEN 'val' ELSE 'test' END"
  }

  // ---------------------------------------------------------------------
  // q65 — deterministic train/val/test split. train ≈ 80.1% (< 'cd' =
  // 205/256), val ≈ 9.8% ('cd'..'e5' = 25/256), test ≈ 10.2% (the
  // remaining 26/256). A doc's
  // split is a pure function of its id: adding data never reshuffles
  // existing assignments, and val/test never leak into train across
  // pipeline re-runs.
  //
  // Scale: embarrassingly parallel map + one aggregation; no shuffle
  // beyond the groupBy's map-side-combined 3 keys.
  val q65: QuerySpec = QuerySpec(
    "q65_hash_split",
    (s, d) =>
      documents(s, d)
        .withColumn("split", splitCol(col("doc_id")))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .orderBy("split"),
    Some(
      s"SELECT ${splitCaseSql("doc_id")} AS split, " +
        "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars " +
        "FROM documents GROUP BY 1 ORDER BY split"
    ),
  )

  // ---------------------------------------------------------------------
  // q66 — mixture weighting (domain mixing): per-source sampling rates
  // applied by hash threshold — low-priority sources keep ~10%
  // (< '1a' = 26/256), mid-priority ~50% (< '80' = 128/256), the rest
  // 100%. This is how corpus mixing ratios (à la the public LLM data
  // recipes) are enforced reproducibly: the rate rides on the row id,
  // not on a sampler's RNG state.
  //
  // Scale: same as q65 — stateless per-row decision, tiny aggregation.
  // Changing the mix only reprocesses the downsampled sources.
  val low = Seq("src0", "src1", "src2", "src3", "src4")
  val mid = Seq("src5", "src6", "src7", "src8", "src9")
  val q66: QuerySpec = QuerySpec(
    "q66_domain_mix",
    (s, d) => {
      val h = hexDraw("graft-mix:", col("doc_id"))
      val keep = when(col("source").isin(low: _*), h < "1a")
        .when(col("source").isin(mid: _*), h < "80")
        .otherwise(lit(true))
      documents(s, d)
        .where(keep)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("n_chars"))
        .orderBy("source")
    },
    Some {
      val h = hexDrawSql("graft-mix:", "doc_id")
      val lowIn = low.map("'" + _ + "'").mkString(", ")
      val midIn = mid.map("'" + _ + "'").mkString(", ")
      s"SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS n_chars FROM documents " +
        s"WHERE CASE WHEN source IN ($lowIn) THEN $h < '1a' " +
        s"WHEN source IN ($midIn) THEN $h < '80' ELSE true END " +
        "GROUP BY 1 ORDER BY source"
    },
  )

  // ---------------------------------------------------------------------
  // q68 — redaction pass: scrub digit runs from the events payload
  // (the PII-scrub shape: the pattern set extends to emails/phones/ids;
  // digits are what this synthetic corpus actually contains). Reports
  // per event type how many payloads were touched and how many
  // characters the redaction removed — the audit numbers a scrub job
  // must emit so downstream can bound information loss.
  //
  // Scale: pure codegen'd regexp work per row, no shuffle before the
  // tiny aggregation. regexp_replace replaces ALL matches in Spark;
  // DuckDB needs the explicit 'g' flag — the oracle carries it.
  val q68: QuerySpec = QuerySpec(
    "q68_redact_numbers",
    (s, d) => {
      val red = regexp_replace(col("props"), "[0-9]+", "<NUM>")
      events(s, d)
        .select(
          col("event_type"),
          (red =!= col("props")).cast("long").as("touched"),
          (length(col("props")) - length(regexp_replace(col("props"), "[0-9]", "")))
            .cast("long").as("digits"),
        )
        .groupBy("event_type")
        .agg(
          sum(col("touched")).as("n_redacted"),
          sum(col("digits")).as("n_digit_chars"),
          count(lit(1)).as("n_events"),
        )
        .orderBy("event_type")
    },
    Some(
      "SELECT event_type, " +
        "CAST(sum(CASE WHEN regexp_replace(props, '[0-9]+', '<NUM>', 'g') <> props THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted, " +
        "CAST(sum(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))) AS BIGINT) AS n_digit_chars, " +
        "count(*) AS n_events " +
        "FROM events GROUP BY 1 ORDER BY event_type"
    ),
  )

  // ---------------------------------------------------------------------
  // q69 — context-window chunking: fixed 64-token windows over each
  // document at stride 48 (16-token overlap), the standard long-document
  // treatment before tokenized training. Emits one row per chunk with
  // its md5, so the oracle hash-checks the chunk CONTENT, not just the
  // counts. Tail chunks are the natural short remainder (`slice` clamps
  // at the end of the array in both engines).
  //
  // Scale: explode fans each doc into ⌈tokens/stride⌉ rows on the
  // executor that already holds the doc — no shuffle at all until a
  // downstream consumer groups; memory is bounded by one doc's tokens
  // times one batch.
  val ChunkTokens = 64
  val ChunkStride = 48
  val q69: QuerySpec = QuerySpec(
    "q69_chunk_stride",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), TF.words(col("text")).as("toks"))
        .select(
          col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")), lit(ChunkStride))).as("start"),
        )
        .select(
          col("doc_id"),
          col("start").cast("long").as("start"),
          size(slice(col("toks"), col("start"), lit(ChunkTokens))).cast("long").as("chunk_tokens"),
          md5(concat_ws(" ", slice(col("toks"), col("start"), lit(ChunkTokens)))).as("chunk_md5"),
        )
        .orderBy("doc_id", "start"),
    Some(
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "s AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), " + ChunkStride + ")) AS start FROM t) " +
        "SELECT doc_id, CAST(start AS BIGINT) AS start, " +
        s"CAST(len(list_slice(toks, start, start + ${ChunkTokens - 1})) AS BIGINT) AS chunk_tokens, " +
        s"md5(array_to_string(list_slice(toks, start, start + ${ChunkTokens - 1}), ' ')) AS chunk_md5 " +
        "FROM s ORDER BY doc_id, start"
    ),
  )

  // ---------------------------------------------------------------------
  // q70 — sequence packing: concatenate each source's docs (in stable
  // doc_id order) into a token stream and cut it into 2048-token packs;
  // a doc belongs to the pack where it STARTS. One window cumsum and an
  // integer divide — no greedy bin-packing loop, no driver state — at
  // the cost of packs overrunning the budget by at most one document,
  // the standard streaming-packing trade.
  //
  // Scale: one shuffle on `source` for the window; the running sum is a
  // single ordered pass per partition. Pack ids derive from the cumsum,
  // so they are stable under re-runs and appends (new docs only extend
  // the tail packs of their source).
  val PackBudget = 2048L
  val q70: QuerySpec = QuerySpec(
    "q70_pack_sequences",
    (s, d) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      documents(s, d)
        .select(col("source"), col("doc_id"), TF.tokenCountWs(col("text")).as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("pack_id",
          floor((col("cum") - col("n_tok")) / lit(PackBudget.toDouble)).cast("long"))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("pack_tokens"))
        .orderBy("source", "pack_id")
    },
    Some(
      "WITH t AS (SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
        "c AS (SELECT source, doc_id, n_tok, sum(n_tok) OVER (" +
        "PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t) " +
        s"SELECT source, CAST(floor((cum - n_tok) / $PackBudget.0) AS BIGINT) AS pack_id, " +
        "count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens " +
        "FROM c GROUP BY 1, 2 ORDER BY source, pack_id"
    ),
  )

  // ---------------------------------------------------------------------
  // q75 — split decontamination: how many val/test documents share
  // content with the train split — exactly (same md5) or by boilerplate
  // prefix (md5 of the first 16 lowercased words, [[TF.prefixFingerprint]]).
  // The eval-benchmark-leak check every training-data pipeline runs
  // after splitting; composes q65's split rule with the dedup family's
  // content hashing.
  //
  // Scale: NOT a join against a train fingerprint set — an eval doc is
  // contaminated iff its fingerprint's group contains a train doc, so
  // each fingerprint needs exactly one groupBy pass: per hash, flag
  // train presence and count val/test members, then one total
  // aggregate. Uniform hash keys ⇒ skew-free shuffle, map-side
  // combined, nothing distinct'd/joined/broadcast; two passes (exact,
  // prefix) because the two fingerprints shuffle on different keys.
  val q75: QuerySpec = QuerySpec(
    "q75_decontaminate",
    (s, d) => {
      // (val_docs, test_docs, contaminated_val, contaminated_test)
      // under fingerprint `key`, as a 1-row frame with `tag`-prefixed
      // column names.
      def pass(key: Column, tag: String) =
        documents(s, d)
          .select(splitCol(col("doc_id")).as("split"), key.as("k"))
          .groupBy("k")
          .agg(
            max(when(col("split") === "train", 1L).otherwise(0L)).as("in_train"),
            sum(when(col("split") === "val", 1L).otherwise(0L)).as("nv"),
            sum(when(col("split") === "test", 1L).otherwise(0L)).as("nt"),
          )
          .agg(
            sum(col("nv")).as(s"${tag}_nv"),
            sum(col("nt")).as(s"${tag}_nt"),
            sum(col("nv") * col("in_train")).as(s"${tag}_cv"),
            sum(col("nt") * col("in_train")).as(s"${tag}_ct"),
          )
      val one = pass(md5(col("text")), "e")
        .crossJoin(pass(TF.prefixFingerprint(col("text"), 16), "p")) // 1×1 rows
      one.select(
        lit("test").as("split"), col("e_nt").as("n_docs"),
        col("e_ct").as("n_exact_contam"), col("p_ct").as("n_prefix_contam"))
        .unionByName(one.select(
          lit("val").as("split"), col("e_nv").as("n_docs"),
          col("e_cv").as("n_exact_contam"), col("p_cv").as("n_prefix_contam")))
        .orderBy("split")
    },
    Some {
      s"WITH d AS (SELECT ${splitCaseSql("doc_id")} AS split, " +
        "md5(text) AS h, " +
        "md5(array_to_string(list_slice(string_split(lower(text), ' '), 1, 16), ' ')) AS pf " +
        "FROM documents) " +
        "SELECT split, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN h IN (SELECT h FROM d WHERE split = 'train') THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_contam, " +
        "CAST(sum(CASE WHEN pf IN (SELECT pf FROM d WHERE split = 'train') THEN 1 ELSE 0 END) AS BIGINT) AS n_prefix_contam " +
        "FROM d WHERE split <> 'train' GROUP BY 1 ORDER BY split"
    },
  )

  // ---------------------------------------------------------------------
  // q76 — dedup clusters: connected components over the exact-Jaccard
  // near-dup pairs (q30's edges), one row per cluster with its size and
  // representative (= min doc_id, the keep-one-per-cluster rule). This
  // is the step between "pairs found" and "corpus deduplicated": a
  // pair list alone can't drive deletion — A~B and B~C must resolve to
  // ONE survivor for {A,B,C}. The oracle recomputes the components via
  // DuckDB's recursive CTE — an independent algorithm (transitive
  // closure) hash-agreeing with the iterative label propagation.
  //
  // Scale: edges come from the CASCADE (LSH candidates → exact verify
  // on candidates only), never from the standalone all-shared-shingle
  // self-join. Banding geometry, stated honestly: 16 bands × 4 rows
  // puts the S-curve MIDPOINT (1/b)^(1/r) exactly at the 0.5
  // threshold — a pair at j=0.5 is recovered with ~64% probability,
  // j=0.65 with ~96%, ≥99% from j≈0.71, and the near-dup clusters
  // this operator exists for (j≥0.8) with ~99.98%. The alternative
  // that guarantees 99.9% at exactly 0.5 (32 bands × 2 rows:
  // 1 − (1 − 0.5²)³² ≈ 0.9999) admits RANDOM pairs at
  // j² per band and measurably floods the verify stage as the corpus
  // grows (SCALE_NOTES round-2 lesson: 65,903 vs 4,101 candidates at
  // 16×, identical recall on every tested corpus) — r=2 is not viable
  // at corpus scale, so the borderline-recall trade is the right one,
  // and the oracle pins that nothing in the tested corpora is missed.
  // Then [[graft.ops.Components]]: per-round join+groupBy on
  // uniformly-hashed vertex ids, rounds ≈ cluster diameter (dedup
  // clusters are shallow), labels localCheckpoint'd per round.
  /** The (v, comp) label frame over the cascade's near-dup edges — the
    * single Spark source for q76 (cluster rollup) and q86 (canonical
    * selection).
    */
  private def dedupComponents(s: org.apache.spark.sql.SparkSession, d: String) = {
    val pairs = TextPipeline
      .dedupCascade(documents(s, d).select("doc_id", "text"))
      .select(col("da"), col("db"))
    graft.ops.Components.connectedComponents(pairs, "da", "db")
  }

  /** DuckDB CTE chain (p/e/reach/comp) computing the same components
    * via recursive transitive closure — shared by the q76 and q86
    * oracles so the 0.5 threshold and closure logic cannot drift
    * between them (the [[LlmQueries.shinglePairsCteSql]] rule).
    * Prepend `WITH RECURSIVE ${LlmQueries.shinglePairsCteSql}, `.
    */
  private val componentsCteSql: String =
    "p AS (SELECT da, db FROM pairs JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db " +
      "WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5), " +
      "e AS (SELECT da AS a, db AS b FROM p UNION ALL SELECT db, da FROM p), " +
      "reach(v, u) AS (SELECT a, a FROM e UNION SELECT e.b, r.u FROM e JOIN reach r ON e.a = r.v), " +
      "comp AS (SELECT v, min(u) AS comp FROM reach GROUP BY 1)"

  val q76: QuerySpec = QuerySpec(
    "q76_dedup_clusters",
    (s, d) =>
      dedupComponents(s, d)
        .groupBy("comp")
        .agg(count(lit(1)).as("n_docs"), max(col("v")).as("max_doc"))
        .select(
          col("comp").as("keep_doc"), col("n_docs"), col("max_doc"))
        .orderBy("keep_doc"),
    Some(
      // q30's shared shingle/pair CTEs, then the shared closure
      s"WITH RECURSIVE ${LlmQueries.shinglePairsCteSql}, $componentsCteSql " +
        "SELECT comp AS keep_doc, count(*) AS n_docs, max(v) AS max_doc " +
        "FROM comp GROUP BY 1 ORDER BY keep_doc"
    ),
  )

  // ---------------------------------------------------------------------
  // q120 — q76's cluster rollup computed by the OTHER components
  // algorithm: large-star/small-star contraction (Kiveris et al.) —
  // the O(log² n)-round path for graphs whose diameter min-label
  // propagation cannot afford. Labels are identical by construction
  // (both emit the component's minimum vertex), so the oracle is
  // q76's own recursive-closure SQL — the q99→q111 precedent again:
  // the hash-match PROVES the scale-path algorithm reproduces the
  // exact clustering on real data, not just on spec fixtures.
  val q120: QuerySpec = QuerySpec(
    "q120_clusters_star",
    (s, d) => {
      val pairs = TextPipeline
        .dedupCascade(documents(s, d).select("doc_id", "text"))
        .select(col("da"), col("db"))
      graft.ops.Components.connectedComponentsStar(pairs, "da", "db")
        .groupBy("comp")
        .agg(count(lit(1)).as("n_docs"), max(col("v")).as("max_doc"))
        .select(col("comp").as("keep_doc"), col("n_docs"), col("max_doc"))
        .orderBy("keep_doc")
    },
    Some(
      s"WITH RECURSIVE ${LlmQueries.shinglePairsCteSql}, $componentsCteSql " +
        "SELECT comp AS keep_doc, count(*) AS n_docs, max(v) AS max_doc " +
        "FROM comp GROUP BY 1 ORDER BY keep_doc"
    ),
  )

  // ---------------------------------------------------------------------
  // q77 — per-domain document cap: keep at most K docs per source,
  // selected by salted-hash rank — the "no domain dominates the mix"
  // curation rule, deterministic like q65/q66 (same doc survives every
  // re-run; appends can only displace docs below the hash-rank cut).
  //
  // Scale: row_number needs a per-source sort of the group, fine while
  // groups fit a task's spill budget; the 100 TB swap-in is the
  // bounded-buffer top-k aggregator ([[graft.functions.TopK]], q39)
  // keyed by the same hash rank — same selection, O(K) memory.
  val DomainCap = 10
  val q77: QuerySpec = QuerySpec(
    "q77_domain_cap",
    (s, d) => {
      val rank = md5(concat(lit("graft-cap:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("source")).orderBy(rank, col("doc_id"))
      documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= DomainCap)
        .orderBy("source", "rn")
    },
    Some(
      "SELECT source, doc_id, n_chars, CAST(rn AS BIGINT) AS rn FROM (" +
        "SELECT source, doc_id, n_chars, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5('graft-cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn " +
        s"FROM documents) WHERE rn <= $DomainCap ORDER BY source, rn"
    ),
  )

  // ---------------------------------------------------------------------
  // q78 — vocabulary coverage curve: how many distinct (lowercased,
  // whitespace) token types cover 50/90/95/99% of the token stream —
  // the statistic behind tokenizer vocab sizing and OOV-rate estimates.
  // One row out: type counts at each coverage level plus corpus totals.
  //
  // Scale: the explode+groupBy token count is the q43 shape (uniform
  // hash keys, map-side combine). The coverage cumsum runs as an
  // UNPARTITIONED window — a deliberate, documented exception to the
  // "no global windows" rule: its input is the VOCABULARY (domain-
  // bounded, ≪ corpus; ~10⁵–10⁸ rows regardless of corpus size), not
  // the token stream, and it lands after the aggregation shuffles.
  val q78: QuerySpec = QuerySpec(
    "q78_vocab_coverage",
    (s, d) => {
      val counts = documents(s, d)
        .select(explode(TF.words(lower(col("text")))).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("c"))
      val ord = Window.orderBy(col("c").desc, col("w"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = counts
        .withColumn("rn", row_number().over(Window.orderBy(col("c").desc, col("w"))).cast("long"))
        .withColumn("share", sum(col("c")).over(ord) / sum(col("c")).over(Window.partitionBy()))
      ranked.agg(
        min(when(col("share") >= 0.5, col("rn"))).as("types_50"),
        min(when(col("share") >= 0.9, col("rn"))).as("types_90"),
        min(when(col("share") >= 0.95, col("rn"))).as("types_95"),
        min(when(col("share") >= 0.99, col("rn"))).as("types_99"),
        max(col("rn")).as("n_types"),
        sum(col("c")).as("n_tokens"),
      )
    },
    Some(
      "WITH counts AS (SELECT w, count(*) AS c FROM (" +
        "SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) WHERE w <> '' GROUP BY 1), " +
        "ranked AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rn, " +
        "sum(c) OVER (ORDER BY c DESC, w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "/ (SELECT CAST(sum(c) AS DOUBLE) FROM counts) AS share FROM counts) " +
        "SELECT min(CASE WHEN share >= 0.5 THEN rn END) AS types_50, " +
        "min(CASE WHEN share >= 0.9 THEN rn END) AS types_90, " +
        "min(CASE WHEN share >= 0.95 THEN rn END) AS types_95, " +
        "min(CASE WHEN share >= 0.99 THEN rn END) AS types_99, " +
        "max(rn) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens FROM ranked"
    ),
  )

  // ---------------------------------------------------------------------
  // q79 — collocations by lift: adjacent token pairs occurring far more
  // often than independence predicts, lift = P(ab) / (P(a)·P(b)) =
  // n_ab·N_tok / (n_a·n_b) — the phrase-mining / tokenizer-merge
  // signal. LIFT, not log-PMI, on purpose: every input is an exact
  // integer count, so the single double division is bit-identical
  // across engines — `ln` is NOT (libm vs JVM differ in the last ulp),
  // and a log-scale oracle would flake at rounding boundaries.
  //
  // Scale: bigram explode is executor-local (q69's rule); both count
  // frames shuffle on uniform token keys; the unigram side joins in
  // twice — each join is a skew-free equijoin (heavy-hitter tokens are
  // exactly what q63 flags for salting if a corpus needs it). The lift
  // arithmetic converts each count to double BEFORE multiplying:
  // counts < 2^53 convert exactly and IEEE mult/div are deterministic
  // (so cross-engine parity holds), while long×long products like
  // na·nb would overflow at trillion-token scale (~1e12² ≫ 2⁶³) —
  // ANSI Spark would throw, non-ANSI would silently wrap. Single-token
  // docs contribute no bigrams (size < 2 guard — the wordShingles
  // inverted-sequence hazard; the oracle's generate_series(1,0) is
  // empty, Spark's sequence(1,0) DESCENDS and then element_at(ws,0)
  // throws).
  val MinPairCount = 20L
  val q79: QuerySpec = QuerySpec(
    "q79_collocations",
    (s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), TF.words(lower(col("text"))).as("ws"))
      val bigrams = toks
        .where(size(col("ws")) >= 2)
        .select(explode(sequence(lit(1), size(col("ws")) - 1)).as("i"), col("ws"))
        .select(
          element_at(col("ws"), col("i")).as("a"),
          element_at(col("ws"), col("i") + 1).as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("nab"))
      val uni = toks
        .select(explode(col("ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      val nTok = uni.agg(sum(col("n")).as("ntot"))
      val lift = (col("nab").cast("double") * col("ntot").cast("double")) /
        (col("na").cast("double") * col("nb").cast("double"))
      bigrams
        .join(uni.select(col("w").as("a"), col("n").as("na")), Seq("a"))
        .join(uni.select(col("w").as("b"), col("n").as("nb")), Seq("b"))
        .crossJoin(nTok) // 1-row total
        // threshold on the UNROUNDED lift in BOTH engines — filtering
        // the rounded value would disagree with the oracle on
        // borderline pairs in (1.5, 1.5000005)
        .where(col("nab") >= MinPairCount && lift > 1.5)
        .select(col("a"), col("b"), col("nab"), round(lift, 6).as("lift"))
        .orderBy("a", "b")
    },
    Some(
      "WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents), " +
        "bi AS (SELECT ws[i] AS a, ws[i+1] AS b, count(*) AS nab FROM toks, " +
        "LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) t " +
        "WHERE len(ws) >= 2 GROUP BY 1, 2), " +
        "uni AS (SELECT unnest(ws) AS w FROM toks), " +
        "ucnt AS (SELECT w, count(*) AS n FROM uni GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS ntot FROM ucnt) " +
        "SELECT a, b, nab, " +
        "round(CAST(nab AS DOUBLE) * CAST(ntot AS DOUBLE) / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)), 6) AS lift " +
        "FROM bi JOIN ucnt ua ON ua.w = a JOIN ucnt ub ON ub.w = b CROSS JOIN tot " +
        s"WHERE nab >= $MinPairCount " +
        "AND CAST(nab AS DOUBLE) * CAST(ntot AS DOUBLE) / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)) > 1.5 " +
        "ORDER BY a, b"
    ),
  )

  // ---------------------------------------------------------------------
  // q86 — canonical selection: for each near-dup cluster, KEEP the
  // best document — longest text, ties to the smallest doc_id — the
  // step after q76's clustering that actually decides what survives
  // dedup (keep-FIRST is q40's exact-hash rule; near-dup clusters
  // want keep-BEST, because members differ and one is usually the
  // superset/original). Edges and components exactly as q76; then one
  // metadata join + a per-cluster top-1 (clusters are small, the
  // row_number partition is bounded by cluster size).
  val q86: QuerySpec = QuerySpec(
    "q86_keep_best",
    (s, d) => {
      val w = Window.partitionBy(col("comp")).orderBy(col("n_chars").desc, col("v"))
      dedupComponents(s, d)
        .join(documents(s, d).select(col("doc_id").as("v"), col("n_chars")), Seq("v"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("comp"))))
        .where(col("rk") === 1)
        .select(
          col("comp").as("cluster"), col("v").as("keep_doc"),
          col("n_chars").as("keep_chars"), col("n_docs"))
        .orderBy("cluster")
    },
    Some(
      // the shared closure, then per-component best by (n_chars desc, id)
      s"WITH RECURSIVE ${LlmQueries.shinglePairsCteSql}, $componentsCteSql, " +
        "ranked AS (SELECT comp, v, n_chars, " +
        "row_number() OVER (PARTITION BY comp ORDER BY n_chars DESC, v) AS rk, " +
        "count(*) OVER (PARTITION BY comp) AS n_docs " +
        "FROM comp JOIN documents ON doc_id = v) " +
        "SELECT comp AS cluster, v AS keep_doc, n_chars AS keep_chars, " +
        "CAST(n_docs AS BIGINT) AS n_docs FROM ranked WHERE rk = 1 ORDER BY cluster"
    ),
  )

  // ---------------------------------------------------------------------
  // q134 — temperature-scaled mixture weights (α = 0.5): the sampling
  // recipe step between q66's observed mix and an actual training
  // run. Uniform-by-size sampling lets giant web sources drown
  // curated ones; α-temperature flattens the distribution — source i
  // draws with p_i ∝ n_i^α — and the pipeline needs, per source, the
  // sampling probability and the implied epoch count (how many times
  // the source repeats to fill a fixed char budget at that rate).
  //
  // Determinism: α = 0.5 makes the power a SQRT — the one
  // transcendental that IEEE 754 requires correctly rounded, so
  // sqrt(n) is bit-identical in every engine (ln/exp, the general-α
  // route, are exactly what the q79 rule forbids). The weight floors
  // to integer micro-units immediately; from there EVERYTHING is
  // integer arithmetic — Σw is an exact integer sum (no float
  // accumulation order), and both p and epochs are integer floor
  // divisions (`div`) in DECIMAL(38,0) — bit-identical by
  // construction, no rounding boundary anywhere.
  //
  // Scale: one per-source aggregate (map-side combined), a ~sources-
  // row frame after that; the Σw total rides a 1-row cross join (the
  // q79 rule), never a driver collect. DECIMAL(38,0) keeps the
  // budget·w product exact past the ~85 TB point where BIGINT·10⁶
  // would wrap.
  val q134: QuerySpec = QuerySpec(
    "q134_mixture_weights",
    (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val n = documents(s, d)
        .groupBy("source")
        .agg(sum(col("n_chars")).as("n_chars"))
        .withColumn("w", floor(sqrt(col("n_chars").cast("double")) * 1e6).cast(dec))
      val tot = n.agg(sum(col("w")).as("tot")) // 1-row Σ weights
      n.crossJoin(tot)
        .select(
          col("source"),
          col("n_chars"),
          col("w").cast("long").as("weight_micro"),
          expr("CAST((w * 1000000) div tot AS LONG)").as("p_micro"),
          // epochs for a 10⁹-char budget: B·p/n, in milli-epochs
          expr("CAST((CAST(1000000000 AS DECIMAL(38,0)) * w * 1000) div (tot * n_chars) AS LONG)")
            .as("epochs_milli"),
        )
        .orderBy("source")
    },
    Some(
      "WITH n AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_chars FROM documents GROUP BY 1), " +
        "w AS (SELECT source, n_chars, CAST(floor(sqrt(CAST(n_chars AS DOUBLE)) * 1000000) AS HUGEINT) AS w FROM n), " +
        "t AS (SELECT sum(w) AS tot FROM w) " +
        "SELECT source, n_chars, CAST(w AS BIGINT) AS weight_micro, " +
        "CAST(w * 1000000 // tot AS BIGINT) AS p_micro, " +
        "CAST((CAST(1000000000 AS HUGEINT) * w * 1000) // (tot * n_chars) AS BIGINT) AS epochs_milli " +
        "FROM w, t ORDER BY source"
    ),
  )

  // ---------------------------------------------------------------------
  // q142 — out-of-vocabulary rate under a frozen top-K vocabulary:
  // induce the vocab as the corpus's K most frequent lowercased
  // tokens, then measure each source's OOV token rate. The tokenizer-
  // fit diagnostic q78's coverage CURVE doesn't give: q78 asks "how
  // many types cover X% of mass" (global), this asks "how badly does
  // a FIXED vocab miss each source" — the number that decides whether
  // a source needs its own tokenizer or gets shredded into bytes.
  // K = 16 on this corpus (31 types — Heaps-law-degenerate synthetic
  // text); the operator is K-agnostic.
  //
  // Determinism: the vocab is a top-K under the TOTAL order (count
  // desc, token) — no frequency tie can flip membership; the OOV gate
  // is null-vs-not after a left join; the rate is one integer floor
  // division to basis points.
  //
  // Scale: token counts are uniform-keyed and map-side combined; the
  // top-K compiles to TakeOrderedAndProject; the K-row vocab
  // BROADCASTS into the flag join, so the fact-side token stream
  // never shuffles for membership — at 100 TB with a real 50k-token
  // vocab the broadcast still costs ~MB.
  val q142: QuerySpec = QuerySpec(
    "q142_oov_rate",
    (s, d) => {
      def tok = documents(s, d)
        .select(col("source"), explode(split(lower(col("text")), " ")).as("t"))
        .where(col("t") =!= "")
      val vocab = tok.groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("t")).limit(16)
        .select(col("t"), lit(1).as("in_v"))
      tok.join(vocab, Seq("t"), "left_outer")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          expr("(10000 * n_oov) div n_tokens").as("oov_bp"))
        .orderBy("source")
    },
    Some(
      "WITH tok AS (SELECT source, t FROM " +
        "(SELECT source, unnest(string_split(lower(text), ' ')) AS t FROM documents) WHERE t <> ''), " +
        "cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY 1), " +
        "vocab AS (SELECT t FROM cnt ORDER BY c DESC, t LIMIT 16) " +
        "SELECT source, count(*) AS n_tokens, " +
        "CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
        "CAST((10000 * sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS oov_bp " +
        "FROM tok LEFT JOIN vocab v USING (t) GROUP BY 1 ORDER BY source"
    ),
  )

  // ---------------------------------------------------------------------
  // q149 — split leakage audit: near-duplicate pairs (q30's exact
  // jaccard ≥ 0.5 semantics) that STRADDLE q65's train/val/test
  // boundary, counted per split pair. The eval-integrity composition
  // of two already-pinned operators: q75 guards against verbatim
  // benchmark contamination, this guards against the subtler leak —
  // a train doc whose near-twin sits in val/test inflates every eval
  // number. Reuses splitCol (q65's single source of split truth) and
  // the dedup cascade, so the audit can never disagree with either
  // the split the pipeline ships or the dedup it runs.
  //
  // Scale: the pair side is the LSH cascade (candidates ∝ true dups,
  // the q41-pinned plan), never exact all-pairs; split assignment is
  // a stateless per-row hash; the rollup is a ≤3×3-key aggregate.
  // Oracle = the EXACT shingle-pair SQL + the same split CASE — the
  // q30→q41 precedent: the hash-match proves the scalable cascade
  // finds precisely the exact plan's leaked pairs.
  val q149: QuerySpec = QuerySpec(
    "q149_split_leakage",
    (s, d) =>
      TextPipeline
        .dedupCascade(documents(s, d).select("doc_id", "text"),
          shingleK = 3, k = 64, bands = 16, rowsPerBand = 4, threshold = 0.5)
        .select(splitCol(col("da")).as("sa"), splitCol(col("db")).as("sb"))
        .where(col("sa") =!= col("sb"))
        .select(
          least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_leaks"))
        .orderBy("split_a", "split_b"),
    Some(
      s"WITH ${LlmQueries.shinglePairsCteSql}, " +
        "jp AS (SELECT da, db FROM pairs JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db " +
        "WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5), " +
        s"sp AS (SELECT ${splitCaseSql("da")} AS sa, ${splitCaseSql("db")} AS sb FROM jp) " +
        "SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b, count(*) AS n_leaks " +
        "FROM sp WHERE sa <> sb GROUP BY 1, 2 ORDER BY split_a, split_b"
    ),
  )

  // ---------------------------------------------------------------------
  // q164 — padding-waste forecast: if each document trains as its own
  // ⌈tokens/512⌉ fixed-length sequences (no cross-doc packing), how
  // much of the token budget is padding, per source? The "should we
  // bother packing" capacity-planning report that motivates q70's
  // packer — waste_bp ≥ ~3000 is the classic signal that naive
  // per-doc batching burns a third of the FLOPs.
  //
  // Determinism: everything is integer arithmetic on the q33 whitespace
  // token count — ceil via (t + 511) div 512, waste = capacity − t,
  // share in floored bp.
  //
  // Scale: stateless per-row math then a |sources|-bounded aggregate —
  // the same profile as q65/q66: no shuffle grows with the corpus.
  val q164: QuerySpec = QuerySpec(
    "q164_padding_waste",
    (s, d) =>
      documents(s, d)
        .select(
          col("source"),
          TF.tokenCountWs(col("text")).as("t"))
        .withColumn("cap", expr("512 * ((t + 511) div 512)"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("t")).as("n_tokens"),
          sum(col("cap") - col("t")).as("n_padding"),
          sum(col("cap")).as("capacity"))
        .withColumn("waste_bp", expr("(10000 * n_padding) div capacity"))
        .orderBy("source"),
    Some(
      "WITH t AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS t, " +
        "512 * ((CAST(len(string_split(text, ' ')) AS BIGINT) + 511) // 512) AS cap " +
        "FROM documents) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS n_tokens, " +
        "CAST(sum(cap - t) AS BIGINT) AS n_padding, CAST(sum(cap) AS BIGINT) AS capacity, " +
        "CAST((10000 * sum(cap - t)) // sum(cap) AS BIGINT) AS waste_bp " +
        "FROM t GROUP BY 1 ORDER BY source"
    ),
  )

  // ---------------------------------------------------------------------
  // q173 — water-filling token-budget allocation: given per-source
  // token counts and a budget B = ⌊0.6·total⌋, find the uniform cap τ
  // (the "water level") such that Σ min(cᵢ, τ) ≤ B with τ maximal —
  // the OPTIMAL version of q77's fixed per-domain cap, and the actual
  // planning step behind "rebalance the mixture without starving small
  // domains": small sources keep everything, large sources clip to τ.
  //
  // Mechanism: sort sources ascending by count; for prefix k the
  // candidate level is (B − P_{k−1})/(m − k + 1) ("spread what's left
  // over everyone not yet fully kept"), and the true level is the MAX
  // over candidates (λ̂ is attained at the correct uncapped-count k;
  // all other prefixes under-estimate it). Floors commute with max, so
  // integer τ = max_k ⌊·⌋; numerators clamp at 0 so both engines'
  // integer division agree (Spark `div` truncates, DuckDB `//` floors
  // — equal on non-negatives). The rank/prefix pass is
  // [[graft.ops.Ranks.withGlobalPrefixSum]] — range-partitioned, no
  // single-task sort however many domains exist (the q109 lesson:
  // domain dimensions grow with the business).
  //
  // The spec pins optimality by brute force: capacity(τ) ≤ B < capacity(τ+1).
  val q173: QuerySpec = QuerySpec(
    "q173_token_budget_waterfill",
    (s, d) => {
      val counts = documents(s, d)
        .select(col("source"), TF.tokenCountWs(col("text")).as("t"))
        .groupBy("source")
        .agg(sum(col("t")).as("c"))
      val ranked = graft.ops.Ranks.withGlobalPrefixSum(
        counts, Seq(col("c").asc, col("source").asc), col("c"), "rn", "pfx")
      val tot = counts.agg(
        count(lit(1)).as("m"),
        sum(col("c")).as("tt"),
        expr("(6 * sum(c)) div 10").as("b"))
      val tau = ranked.crossJoin(tot) // 1-row totals anchor
        .select(expr("greatest(b - (pfx - c), 0) div (m - rn + 1)").as("tau_k"))
        .agg(max(col("tau_k")).as("tau"))
      counts.crossJoin(tau) // 1-row level anchor
        .select(
          col("source"),
          col("c").as("n_tokens"),
          least(col("c"), col("tau")).as("alloc_tokens"),
          (col("c") > col("tau")).as("capped"))
        .orderBy("source")
    },
    Some(
      "WITH c AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS c " +
        "FROM documents GROUP BY 1), " +
        "t AS (SELECT count(*) AS m, sum(c) AS tt, (6 * sum(c)) // 10 AS b FROM c), " +
        "r AS (SELECT c, row_number() OVER (ORDER BY c, source) AS rn, " +
        "sum(c) OVER (ORDER BY c, source) AS pfx FROM c), " +
        "tau AS (SELECT max(greatest(b - (pfx - c), 0) // (m - rn + 1)) AS tau FROM r, t) " +
        "SELECT source, c AS n_tokens, CAST(least(c, tau) AS BIGINT) AS alloc_tokens, c > tau AS capped " +
        "FROM c, tau ORDER BY source"
    ),
  )

  // ---------------------------------------------------------------------
  // q174 — per-source length winsorization report: the P05/P95
  // character-length bounds per source (exact type-1 percentiles) and
  // the clip mass a winsorize-to-bounds pass would remove — the
  // length-outlier trim every corpus-cleaning pipeline applies before
  // length-sensitive steps (tokenizer batching, q70 packing).
  //
  // Scale mechanism: percentiles come from a per-source LENGTH
  // HISTOGRAM, not a per-source sort — distinct lengths are
  // value-bounded (≤ max document chars), so the per-group window
  // rides a domain-bounded frame however many documents a source has
  // (the q83 equidepth discipline applied per group; the naive
  // row-level `row_number() OVER (PARTITION BY source)` would put a
  // corpus-sized group in one task — the q109 trap).
  //
  // Determinism: ranks and bounds are exact integers; ceil via
  // (k·n + 99) div 100 on non-negatives.
  val q174: QuerySpec = QuerySpec(
    "q174_length_winsorize",
    (s, d) => {
      val hist = documents(s, d)
        .groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("source").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = hist
        .withColumn("cum", sum(col("cnt")).over(w))
        .join(hist.groupBy("source").agg(sum(col("cnt")).as("n")), Seq("source"))
      val bounds = cum
        .groupBy("source", "n")
        .agg(
          min(when(col("cum") >= expr("(5 * n + 99) div 100"), col("n_chars"))).as("lo"),
          min(when(col("cum") >= expr("(95 * n + 99) div 100"), col("n_chars"))).as("hi"))
      hist.join(bounds, Seq("source"))
        .groupBy(col("source"), col("n").as("n_docs"), col("lo").as("p05_chars"),
          col("hi").as("p95_chars"))
        .agg(
          sum(when(col("n_chars") < col("lo") || col("n_chars") > col("hi"), col("cnt"))
            .otherwise(lit(0L))).as("n_clipped"),
          sum(col("cnt") * (greatest(col("n_chars") - col("hi"), lit(0L)) +
            greatest(col("lo") - col("n_chars"), lit(0L)))).as("clipped_char_mass"))
        .orderBy("source")
    },
    Some(
      "WITH h AS (SELECT source, n_chars, count(*) AS cnt FROM documents GROUP BY 1, 2), " +
        "c AS (SELECT source, n_chars, cnt, " +
        "sum(cnt) OVER (PARTITION BY source ORDER BY n_chars " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(cnt) OVER (PARTITION BY source) AS n FROM h), " +
        "b AS (SELECT source, n, " +
        "min(CASE WHEN cum >= (5 * n + 99) // 100 THEN n_chars END) AS lo, " +
        "min(CASE WHEN cum >= (95 * n + 99) // 100 THEN n_chars END) AS hi " +
        "FROM c GROUP BY 1, 2) " +
        "SELECT h.source, CAST(n AS BIGINT) AS n_docs, lo AS p05_chars, hi AS p95_chars, " +
        "CAST(sum(CASE WHEN n_chars < lo OR n_chars > hi THEN cnt ELSE 0 END) AS BIGINT) AS n_clipped, " +
        "CAST(sum(cnt * (greatest(n_chars - hi, 0) + greatest(lo - n_chars, 0))) AS BIGINT) AS clipped_char_mass " +
        "FROM h JOIN b ON h.source = b.source GROUP BY 1, 2, 3, 4 ORDER BY h.source"
    ),
  )

  // ---------------------------------------------------------------------
  // q193 — multi-class PII scrub: the full form of q68's redaction
  // shape. Emails, phone numbers, and long id runs are scrubbed
  // SEQUENTIALLY (each class counted on the text as the previous
  // class left it — an email's digit run must not double-count as an
  // id), with per-class counts emitted as the audit trail a scrub job
  // owes downstream. The corpus text is digit-free, so the fixture
  // synthesizes deterministic PII-bearing text from customer-key
  // arithmetic — identical construction in both engines, with
  // per-customer variation (no email for key%3=0, no phone for odd
  // keys) so the counts genuinely vary per row and the oracle hashes
  // the scrubbed STRING, not just totals.
  //
  // Scale: pure per-row codegen'd regexp chain — zero shuffles before
  // the output sort; on 100 TB this is a map-only pass. Engine note:
  // Spark's regexp_replace replaces all matches, DuckDB needs the
  // explicit 'g' flag (the q68 lesson); Java-regex and RE2 agree on
  // this pattern class (character classes, bounded repetition, greedy
  // matching — no backtracking constructs).
  val q193: QuerySpec = QuerySpec(
    "q193_pii_scrub",
    (s, d) => {
      val emailPat = "[a-z0-9.]+@[a-z0-9.]+[a-z]"
      val phonePat = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val idPat = "[0-9]{5,}"
      val email = concat(lower(regexp_replace(col("c_name"), "#", ".")), lit("@corp.example"))
      val phone = concat(
        lit("+1-"), lpad((col("c_custkey") % 1000).cast("string"), 3, "0"),
        lit("-"), lpad((col("c_custkey") * 7 % 1000).cast("string"), 3, "0"),
        lit("-"), lpad((col("c_custkey") * 13 % 10000).cast("string"), 4, "0"))
      val ref = lpad((col("c_custkey") * 37 % 1000000000L).cast("string"), 9, "0")
      val text = concat(
        col("c_mktsegment"), lit(" account"),
        when(col("c_custkey") % 3 > 0, concat(lit(" mail "), email)).otherwise(lit("")),
        when(col("c_custkey") % 2 === 0, concat(lit(" call "), phone)).otherwise(lit("")),
        lit(" ref "), ref)
      customer(s, d)
        .select(col("c_custkey"), text.as("t"))
        .withColumn("n_emails", regexp_count(col("t"), lit(emailPat)).cast("long"))
        .withColumn("t1", regexp_replace(col("t"), emailPat, "<EMAIL>"))
        .withColumn("n_phones", regexp_count(col("t1"), lit(phonePat)).cast("long"))
        .withColumn("t2", regexp_replace(col("t1"), phonePat, "<PHONE>"))
        .withColumn("n_ids", regexp_count(col("t2"), lit(idPat)).cast("long"))
        .select(
          col("c_custkey"),
          regexp_replace(col("t2"), idPat, "<ID>").as("scrubbed"),
          col("n_emails"), col("n_phones"), col("n_ids"))
        .orderBy("c_custkey")
    },
    Some(
      "WITH t AS (SELECT c_custkey, c_mktsegment || ' account' || " +
        "CASE WHEN c_custkey % 3 > 0 THEN ' mail ' || lower(replace(c_name, '#', '.')) || '@corp.example' ELSE '' END || " +
        "CASE WHEN c_custkey % 2 = 0 THEN ' call +1-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' || " +
        "lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(c_custkey * 13 % 10000 AS VARCHAR), 4, '0') ELSE '' END || " +
        "' ref ' || lpad(CAST(c_custkey * 37 % 1000000000 AS VARCHAR), 9, '0') AS t FROM customer), " +
        "e AS (SELECT c_custkey, CAST(len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]+[a-z]')) AS BIGINT) AS n_emails, " +
        "regexp_replace(t, '[a-z0-9.]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g') AS t1 FROM t), " +
        "p AS (SELECT c_custkey, n_emails, CAST(len(regexp_extract_all(t1, '\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones, " +
        "regexp_replace(t1, '\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS t2 FROM e) " +
        "SELECT c_custkey, regexp_replace(t2, '[0-9]{5,}', '<ID>', 'g') AS scrubbed, n_emails, n_phones, " +
        "CAST(len(regexp_extract_all(t2, '[0-9]{5,}')) AS BIGINT) AS n_ids FROM p ORDER BY c_custkey"
    ),
  )

  // ---------------------------------------------------------------------
  // q245 — WEIGHTED sampling without replacement (Efraimidis &
  // Spirakis 2006, the A-ES scheme): the top-50 docs by key
  // ln(u)/w with u a per-doc seeded uniform and w = n_chars — a
  // one-pass, coordination-free sample where doc i's inclusion
  // probability is exactly proportional-to-size without replacement.
  // q65/q66/q82 sample UNIFORMLY (per-row coin flips); quality- or
  // size-weighted corpus selection ("sample 1M docs ∝ quality") needs
  // A-ES: the weight changes each doc's key DISTRIBUTION, not its
  // threshold, so no global pass over the weight total is needed and
  // appends never reshuffle prior draws (the q65 reproducibility rule
  // with weights).
  //
  // Determinism: u = (h + ½)/2³² from the doc's salted md5 (the
  // DpNoise dyadic-rational class); ln and the division are identical
  // IEEE shapes in both engines, so the top-50 SET is bit-reproducible
  // and the oracle hash-matches the membership exactly. Ties are
  // improbable but not impossible (u is a 32-bit truncation of md5 —
  // birthday collisions past ~77k docs, and equal u + equal n_chars
  // ties the key); the doc_id tiebreak is what closes the total
  // order (§7.0).
  //
  // Scale: one stateless projection + top-50, which compiles to
  // TakeOrderedAndProject (per-partition bounded heap + 50-row merge —
  // no sort, no shuffle of the corpus, no weight-total pass).
  val q245: QuerySpec = QuerySpec(
    "q245_weighted_sample",
    (s, d) => {
      val u = (conv(substring(md5(concat(lit("graft-wsample:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("double") +
        lit(0.5)) / lit(4294967296.0)
      documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          (log(u) / col("n_chars").cast("double")).as("k"))
        .orderBy(col("k").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(
      "SELECT doc_id, source, n_chars FROM (" +
        "SELECT doc_id, source, n_chars, " +
        "ln((CAST(CAST(('0x' || substr(md5('graft-wsample:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0) " +
        "/ CAST(n_chars AS DOUBLE) AS k " +
        "FROM documents ORDER BY k DESC, doc_id LIMIT 50) ORDER BY doc_id"
    ),
  )

  // ---------------------------------------------------------------------
  // q246 — GROUP-aware k-fold assignment + leakage audit: folds are a
  // pure hash of the SOURCE, and every doc inherits its source's fold
  // — the grouped cross-validation contract (all of a group in one
  // fold). Row-level folds (q65's shape) leak when near-duplicates
  // cluster within a group: a doc in fold 1 and its sibling in fold 2
  // lets the validator memorize the training data. The audit column
  // is the contract made measurable: sources spanning >1 fold must be
  // ZERO, and it is computed, not assumed.
  //
  // Determinism: fold = md5 draw of the source mod 5 (the q65 rule at
  // group grain) — appends to an existing source can never move it.
  //
  // Scale: one doc pass partial-aggs per (source, fold) — group-
  // domain-bounded — then a 5-row rollup; the audit rides the same
  // frame (a countDistinct over |sources| rows, not docs).
  val q246: QuerySpec = QuerySpec(
    "q246_group_kfold",
    (s, d) => {
      val fold = pmod(conv(substring(md5(concat(lit("graft-fold:"),
        col("source"))), 1, 8), 16, 10).cast("long"), lit(5L))
      val perSource = documents(s, d)
        .groupBy(col("source"), fold.as("fold"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      val audit = perSource.groupBy("source")
        .agg(countDistinct("fold").as("nf"))
        .agg(sum(when(col("nf") > 1, 1L).otherwise(0L)).as("sources_multi_fold"))
      perSource.groupBy("fold")
        .agg(count(lit(1)).as("n_sources"), sum("n_docs").as("n_docs"),
          sum("n_chars").cast("long").as("n_chars"))
        .crossJoin(audit) // 1-row audit anchor
        .select(col("fold"), col("n_sources"), col("n_docs"), col("n_chars"),
          col("sources_multi_fold"))
        .orderBy("fold")
    },
    Some(
      "WITH ps AS (SELECT source, " +
        "CAST(('0x' || substr(md5('graft-fold:' || source), 1, 8)) AS BIGINT) % 5 AS fold, " +
        "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars " +
        "FROM documents GROUP BY 1, 2), " +
        "audit AS (SELECT CAST(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS sources_multi_fold " +
        "FROM (SELECT source, count(DISTINCT fold) AS nf FROM ps GROUP BY 1)) " +
        "SELECT fold, count(*) AS n_sources, CAST(sum(n_docs) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS n_chars, sources_multi_fold " +
        "FROM ps CROSS JOIN audit GROUP BY fold, sources_multi_fold ORDER BY fold"
    ),
  )

  // ---------------------------------------------------------------------
  // q249 — capture–recapture population estimate (Chapman's
  // bias-corrected Lincoln–Petersen): two independent 25% hash-samples
  // of the corpus play the two "captures", and the overlap estimates
  // the TOTAL population — N̂ = (n₁+1)(n₂+1)/(m+1) − 1. The planning
  // primitive for what a pipeline cannot see: how many distinct docs
  // does the full crawl hold when you've only seen two partial crawls,
  // how many duplicates remain when two dedup passes each caught a
  // sample. Here ground truth exists, so the estimator ships WITH its
  // audit: the true count and the relative error in bp.
  //
  // Determinism: both captures are salted md5 threshold draws (the q65
  // rule — disjoint salts make them independent); the estimate is one
  // exact integer expression, error bp an exact floored div.
  //
  // Scale: ONE scan, one conditional aggregate to a single row — the
  // estimator never materializes either sample.
  val q249: QuerySpec = QuerySpec(
    "q249_capture_recapture",
    (s, d) => {
      val big = DecimalType(38, 0)
      val inA = hexDraw("graft-capA:", col("doc_id")) < "40"
      val inB = hexDraw("graft-capB:", col("doc_id")) < "40"
      documents(s, d)
        .agg(
          count(lit(1)).cast(big).as("n_true"),
          sum(when(inA, 1L).otherwise(0L)).cast(big).as("n1"),
          sum(when(inB, 1L).otherwise(0L)).cast(big).as("n2"),
          sum(when(inA && inB, 1L).otherwise(0L)).cast(big).as("m"))
        .withColumn("est",
          expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1").cast(big))
        .select(
          col("n1").cast("long").as("n_capture1"),
          col("n2").cast("long").as("n_capture2"),
          col("m").cast("long").as("n_overlap"),
          col("est").cast("long").as("n_estimated"),
          col("n_true").cast("long").as("n_true"),
          expr("CAST((10000 * abs(est - n_true)) div n_true AS BIGINT)")
            .as("err_bp"))
    },
    Some {
      val a = hexDrawSql("graft-capA:", "doc_id")
      val b = hexDrawSql("graft-capB:", "doc_id")
      "WITH m AS (SELECT CAST(count(*) AS HUGEINT) AS n_true, " +
        s"CAST(sum(CASE WHEN $a < '40' THEN 1 ELSE 0 END) AS HUGEINT) AS n1, " +
        s"CAST(sum(CASE WHEN $b < '40' THEN 1 ELSE 0 END) AS HUGEINT) AS n2, " +
        s"CAST(sum(CASE WHEN $a < '40' AND $b < '40' THEN 1 ELSE 0 END) AS HUGEINT) AS m " +
        "FROM documents), " +
        "e AS (SELECT *, ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS est FROM m) " +
        "SELECT CAST(n1 AS BIGINT) AS n_capture1, CAST(n2 AS BIGINT) AS n_capture2, " +
        "CAST(m AS BIGINT) AS n_overlap, CAST(est AS BIGINT) AS n_estimated, " +
        "CAST(n_true AS BIGINT) AS n_true, " +
        "CAST((10000 * abs(est - n_true)) // n_true AS BIGINT) AS err_bp FROM e"
    },
  )

  val all: Seq[QuerySpec] =
    Seq(q65, q66, q68, q69, q70, q75, q76, q77, q78, q79, q86, q120, q134, q142,
      q149, q164, q173, q174, q193, q245, q246, q249)
}
