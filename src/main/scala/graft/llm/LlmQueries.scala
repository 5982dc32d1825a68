package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.ops.Exact._
import graft.ops.Pin.PinOps
import graft.ops.QuerySpec
import graft.ops.Tables._

/** q25–q36: training-data-pipeline operators beyond the reference
  * surface (dedup, text analysis, similarity search, session/stream
  * analogs) — SURVEY.md §2.2/§2.3 north-star extensions.
  *
  * The scale story per query is in its scaladoc; the common thread:
  * everything that fans out (shingle explode, LSH bands, ANN buckets)
  * fans out on executors with uniformly-hashed keys, and candidate
  * verification happens after a cheap candidate-narrowing join, never
  * via an O(N²) cross product on the full corpus.
  */
object LlmQueries {

  // q25 — exact dedup by content hash (hash-groupBy; the 100 TB version
  // is identical — md5 keys distribute uniformly so the shuffle has no
  // skew).
  val q25: QuerySpec = QuerySpec(
    "q25_exact_dedup",
    (s, d) =>
      documents(s, d)
        .select(col("lang"), md5(col("text")).as("h"))
        .groupBy("lang")
        .agg(countDistinct(col("h")).as("n_unique"), count(lit(1)).as("n_docs"))
        .orderBy("lang"),
    Some(
      "SELECT lang, count(DISTINCT md5(text)) AS n_unique, count(*) AS n_docs " +
        "FROM documents GROUP BY 1 ORDER BY lang"
    ),
  )

  // q26 — corpus text stats per language.
  val q26: QuerySpec = QuerySpec(
    "q26_text_stats",
    (s, d) =>
      documents(s, d)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"),
          max(length(col("text"))).cast(LongType).as("max_len"),
        )
        .orderBy("lang"),
    Some(
      "SELECT lang, count(*) AS n_docs, round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars, " +
        "CAST(max(length(text)) AS BIGINT) AS max_len FROM documents GROUP BY 1 ORDER BY lang"
    ),
  )

  // q27 — sessionization, batch twin of the streaming session_window
  // (graft.streaming mirrors it with flatMapGroupsWithState). Gap rule:
  // >30 min since the previous event of the same user opens a session.
  val q27: QuerySpec = QuerySpec(
    "q27_sessionize",
    (s, d) =>
      graft.ops.Sessionize
        .sessions(
          events(s, d).select(col("user_id"), col("event_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us")),
          gapUs = 30L * 60L * 1000000L,
        )
        .orderBy("user_id", "session_id"),
    Some(
      "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events), " +
        "m AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS is_new FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
        "se AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM m) " +
        "SELECT user_id, session_id, count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us " +
        "FROM se GROUP BY 1, 2 ORDER BY user_id, session_id"
    ),
  )

  // q28 — tumbling 1-hour window, batch twin of the streaming
  // `window($"ts", "1 hour")` aggregation in graft.streaming.
  val q28: QuerySpec = QuerySpec(
    "q28_tumbling_window",
    (s, d) =>
      events(s, d)
        .groupBy(
          col("user_id"),
          unix_seconds(date_trunc("hour", col("ts")).cast("timestamp")).as("hour_epoch"),
        )
        .agg(count(lit(1)).as("n_events"), dsum("value").as("sum_value"))
        .orderBy("user_id", "hour_epoch"),
    Some(
      "SELECT user_id, epoch_us(date_trunc('hour', ts)) // 1000000 AS hour_epoch, " +
        s"count(*) AS n_events, ${dsumSql("value")} AS sum_value " +
        "FROM events GROUP BY 1, 2 ORDER BY user_id, hour_epoch"
    ),
  )

  /** 1e7 — full float precision (a float has ~7.2 significant digits),
    * sized so q29's DECIMAL(38,0) square and BIGINT quotient cannot
    * overflow. PRECONDITION: every dotFp-keyed ranking in this file
    * assumes NEAR-UNIT-NORM embeddings (the testdata's are, and
    * production embedding columns should be L2-normalized upstream).
    * The unit-norm argument (r9 ADVICE fix — the earlier 64·(0.53e7)²
    * figure was arithmetic nonsense): n_fp = Σ round(vᵢ·10⁷)² ≈
    * 10¹⁴·‖v‖² ≈ 1e14, |dot_fp| ≤ √(n_fp·m_fp) ≈ 1e14 by
    * Cauchy–Schwarz, so d² ≈ 1e28, d²·10⁴ ≈ 1e32 < 10³⁸, and the
    * quotient d²·10⁴/n_fp ≈ n_fp·10⁴ ≈ 1e18 < 2⁶³. For general norms
    * the quotient bound is n_fp·10⁴ and grows with ‖v‖²; past ~30× unit
    * norm Spark's decimal overflow silently NULLs rank keys (rows sort
    * last) while DuckDB's BIGINT cast errors loudly — keep inputs near
    * unit norm rather than leaning on either behavior.
    */
  val Q29Scale = 10000000L

  // q29 — similarity search: exact cosine top-k against one anchor
  // vector. The anchor arrives via broadcast nested-loop join of a
  // 1-row frame (no driver collect); the scan computes the ranking key
  // in one codegen'd pass; TakeOrderedAndProject keeps a 20-row heap
  // per partition. 100 TB path: same plan per query vector — for batch
  // ANN see q35's LSH bucketing.
  //
  // Oracle-checked since round 8 (was float-ordered/no-oracle): the
  // ranking is defined over EXACT integers (the q92 fix-point idiom
  // applied to the dot product). Per candidate b against anchor a:
  //   d  = Σ round(aᵢ·10⁷)·round(bᵢ·10⁷)   (exact int64, |d| ≲ 1.01e14)
  //   n  = Σ round(bᵢ·10⁷)²                 (fixed-point squared norm)
  //   key = sign(d) · (d²·10⁴ div n)        (exact 192-bit quotient via
  //                                          [[graft.expressions.Int128]];
  //                                          quotient ≤ ~1.01e18 < 2⁶³)
  // key is monotone in cosine — cos² = d²/(nₐ·n) with nₐ constant, the
  // sign carries the branch — at 1e-18 relative resolution, ties broken
  // by vec_id. Every step is integer-exact and reproduced verbatim in
  // the DuckDB oracle, so the SELECTION AND ORDER hash-match
  // cross-engine; the float cosine VALUES stay property-pinned
  // (SimilarityPipelineSpec pins fp-ranking ≡ float-cosine ranking on
  // the corpus, VectorExpressionsSpec pins native ≡ its spec-side HOF
  // oracle bit-for-bit).
  val q29: QuerySpec = QuerySpec(
    "q29_similarity_topk",
    (s, d) => {
      val emb = embeddings(s, d)
      val anchor = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("anchor_emb"))
      emb.join(broadcast(anchor))
        .where(col("vec_id") =!= 0)
        .select(
          col("vec_id"),
          VF.dotFp(col("embedding"), col("anchor_emb"), Q29Scale).as("dot_fp"),
          VF.dotFp(col("embedding"), col("embedding"), Q29Scale).as("n_fp"),
        )
        .select(
          col("vec_id"),
          col("dot_fp"),
          (when(col("dot_fp") < 0, lit(-1L)).otherwise(lit(1L)) *
            VF.rankFp(col("dot_fp"), col("n_fp"))).as("rank_fp"),
        )
        .orderBy(desc("rank_fp"), asc("vec_id"))
        .limit(20)
    },
    Some(
      "WITH fp AS (SELECT vec_id, list_transform(embedding, " +
        s"x -> CAST(round(CAST(x AS DOUBLE) * $Q29Scale) AS BIGINT)) AS q FROM embeddings), " +
        "a AS (SELECT q AS qa FROM fp WHERE vec_id = 0), " +
        "d AS (SELECT f.vec_id, " +
        "CAST(list_sum(list_transform(generate_series(1, len(f.q)), i -> f.q[i] * qa[i])) AS BIGINT) AS dot_fp, " +
        "CAST(list_sum(list_transform(f.q, x -> x * x)) AS BIGINT) AS n_fp " +
        "FROM fp f, a WHERE f.vec_id <> 0) " +
        "SELECT vec_id, dot_fp, " +
        "CAST((CASE WHEN dot_fp < 0 THEN -1 ELSE 1 END) * " +
        "((CAST(dot_fp AS HUGEINT) * dot_fp * 10000) // n_fp) AS BIGINT) AS rank_fp " +
        "FROM d ORDER BY rank_fp DESC, vec_id LIMIT 20"
    ),
  )

  // q30 — near-duplicate pairs by exact 3-gram-shingle Jaccard ≥ 0.5.
  // Exact all-pairs via shingle-inverted-index join is fine at test
  // scale and oracle-checkable; the 100 TB path swaps the candidate
  // generator for MinHash LSH (q31) and keeps this exact Jaccard as the
  // verification stage over candidates only.
  /** Shared DuckDB CTE prefix (w/sh/cnt/pairs) computing the 3-gram
    * shingle sets and common-shingle pair counts — the single source
    * for every oracle in the exact-Jaccard family (q30 full pairs,
    * q76's component edges). A tokenizer/k/NULL-handling change here
    * changes all of them together.
    */
  private[llm] val shinglePairsCteSql: String =
    "w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s " +
      "FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) t) WHERE s IS NOT NULL), " +
      "cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), " +
      "pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common FROM sh a " +
      "JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)"

  val q30: QuerySpec = QuerySpec(
    "q30_near_dup_jaccard",
    (s, d) =>
      TextPipeline
        .exactJaccardPairs(documents(s, d).select("doc_id", "text"), 3, 0.5)
        .select(col("da"), col("db"), round(col("jac"), 4).as("jaccard"))
        .orderBy("da", "db"),
    Some(
      s"WITH $shinglePairsCteSql " +
        "SELECT da, db, round(common * 1.0 / (ca.n + cb.n - common), 4) AS jaccard " +
        "FROM pairs JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db " +
        "WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5 ORDER BY da, db"
    ),
  )

  // q31 — MinHash-LSH near-dup: the scalable candidate generator.
  // signature(64 hashes) → 16 bands × 4 rows → band-key equijoin →
  // candidates verified by *estimated* jaccard ≥ 0.5 on the signature.
  // Shuffle volume O(N·bands); no all-pairs anywhere.
  //
  // Oracle-checked since round 7: the registered run uses the PORTABLE
  // hash family — md5-prefix 60-bit base hash per shingle +
  // Carter–Wegman rehashes (aᵢ·h+bᵢ mod 2³¹−1, constants themselves
  // md5-derived) + md5-prefix band keys — every step reproducible
  // verbatim in DuckDB SQL, so the WHOLE cascade (shingling,
  // signatures, banding, collision join, estimate filter) hash-matches
  // cross-engine instead of being property-pinned. At 100 TB swap the
  // base hash to xxhash64 (same plan, cheaper per hash; the variant
  // MinHashSpec pins recall for); the hash choice is semantically free
  // — which is exactly what makes the portable form a valid oracle.
  val q31: QuerySpec = QuerySpec(
    "q31_minhash_lsh",
    (s, d) =>
      TextPipeline
        .lshCandidates(documents(s, d).select("doc_id", "text"),
          shingleK = 3, k = 64, bands = 16, rowsPerBand = 4, portable = true)
        .where(col("est_jaccard") >= 0.5)
        .select(col("da"), col("db"), round(col("est_jaccard"), 4).as("est_jaccard"))
        .orderBy("da", "db"),
    Some(
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "wk AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 3), " +
        "sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s " +
        "FROM wk, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) t), " +
        "hs AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh), " +
        "ab AS (SELECT i, CAST(('0x' || substr(md5('a|' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 2147483646 + 1 AS a, " +
        "CAST(('0x' || substr(md5('b|' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 2147483647 AS b " +
        "FROM (SELECT unnest(generate_series(0, 63)) AS i)), " +
        "sig AS (SELECT doc_id, i, min(((h % 2147483647) * a + b) % 2147483647) AS m " +
        "FROM hs CROSS JOIN ab GROUP BY 1, 2), " +
        "bk AS (SELECT doc_id, i // 4 AS band, " +
        "CAST(('0x' || substr(md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)), 1, 15)) AS BIGINT) AS bkey " +
        "FROM sig GROUP BY doc_id, i // 4), " +
        "cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db FROM bk a JOIN bk b " +
        "ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id), " +
        "est AS (SELECT da, db, sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 64.0 AS ej " +
        "FROM cand JOIN sig sa ON sa.doc_id = da JOIN sig sb ON sb.doc_id = db AND sb.i = sa.i " +
        "GROUP BY 1, 2) " +
        "SELECT da, db, round(ej, 4) AS est_jaccard FROM est WHERE ej >= 0.5 ORDER BY da, db"
    ),
  )

  // q32 — SimHash fingerprints: signature per doc, then duplicate-
  // cluster candidates = identical simhash (hamming 0 bucketing; at
  // scale, split the bits into 16-bit sub-keys and equijoin any
  // matching sub-key to find hamming ≤ 3 pairs).
  //
  // Oracle-checked since round 7 via the PORTABLE 60-bit form
  // (md5-prefix token hashes; bit votes and sign assembly identical in
  // DuckDB — see q31's note on why the hash swap is free). It is the
  // one SimHash form; at 100 TB the per-token hash can go back to
  // xxhash64 with the plan unchanged.
  val q32: QuerySpec = QuerySpec(
    "q32_simhash",
    (s, d) =>
      TextPipeline
        .simHashPortableDf(documents(s, d).select("doc_id", "text"))
        .groupBy("simhash")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
        .orderBy("simhash"),
    Some(
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "tok AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h " +
        "FROM w, LATERAL (SELECT unnest(ws) AS t) u), " +
        "votes AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v " +
        "FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bits GROUP BY 1, 2), " +
        "sh AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash " +
        "FROM votes GROUP BY 1) " +
        "SELECT simhash, count(*) AS n_docs, min(doc_id) AS keeper FROM sh GROUP BY 1 ORDER BY simhash"
    ),
  )

  // q33 — token counting: whitespace tokens + BPE-ish regex tokens.
  val q33: QuerySpec = QuerySpec(
    "q33_token_count",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          TF.tokenCountWs(col("text")).as("n_ws_tokens"),
          TF.tokenCountRegex(col("text")).as("n_re_tokens"),
        )
        .orderBy("doc_id"),
    Some(
      "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_re_tokens " +
        "FROM documents ORDER BY doc_id"
    ),
  )

  // q34 — quality scoring: length/word/stopword/punctuation signals.
  val q34: QuerySpec = QuerySpec(
    "q34_quality_score",
    (s, d) => {
      val stop = Seq("the", "a", "of", "and", "to", "in", "is")
      documents(s, d)
        .select(
          col("doc_id"),
          length(col("text")).cast(LongType).as("n_chars_m"),
          TF.tokenCountWs(col("text")).as("n_words"),
          TF.stopwordRatio(col("text"), stop).as("stopword_ratio"),
          TF.avgWordLen(col("text")).as("avg_word_len"),
        )
        .orderBy("doc_id")
    },
    Some(
      "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, " +
        "round(CAST(len(list_filter(string_split(text, ' '), " +
        "w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stopword_ratio, " +
        "round(CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS DOUBLE) " +
        "/ len(string_split(text, ' ')), 4) AS avg_word_len " +
        "FROM documents ORDER BY doc_id"
    ),
  )

  // q35 — document fingerprinting: stable md5 prefix fingerprint
  // (oracle-checked) — the cheap first stage of a dedup cascade.
  val q35: QuerySpec = QuerySpec(
    "q35_doc_fingerprint",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          TF.prefixFingerprint(col("text"), 8).as("fp"),
        )
        .orderBy("doc_id"),
    Some(
      "SELECT doc_id, md5(array_to_string(string_split(lower(text), ' ')[1:8], ' ')) AS fp " +
        "FROM documents ORDER BY doc_id"
    ),
  )

  // q36 — language-ID heuristic over the corpus (stopword/char-profile
  // argmax). The test corpus is synthetic English-ish text for every
  // lang label, so this reports the heuristic's own distribution —
  // rows-only check here; real multilingual behavior pinned in
  // TextFunctionsSpec.
  // Oracle-checked since round 7: the heuristic is PURE INTEGER — per
  // language, the profile-stopword hit count over the lowercased token
  // stream (zh: character-containment votes over the raw text), argmax
  // with ties kept by the fixed [en,de,fr,es,zh] order (first-in-order
  // achieving the max — the fold's strict-> semantics), 'und' when no
  // profile scores. DuckDB reproduces every vote and the tie order
  // verbatim, so the declared-no-oracle status was simply leaving
  // evidence on the table.
  val q36: QuerySpec = QuerySpec(
    "q36_lang_id",
    (s, d) =>
      TextPipeline
        .langIdDf(documents(s, d).select("doc_id", "text"))
        .groupBy("pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("pred_lang"),
    Some {
      def hits(words: Seq[String]) =
        "CAST(len(list_filter(string_split(lower(text), ' '), " +
          s"w -> w IN (${words.map(w => s"'$w'").mkString(",")}))) AS BIGINT)"
      val en = hits(Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"))
      val de = hits(Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "sich"))
      val fr = hits(Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"))
      val es = hits(Seq("el", "los", "las", "y", "es", "una", "en", "que", "por", "como"))
      val zh = Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这")
        .map(c => s"(CASE WHEN contains(text, '$c') THEN 1 ELSE 0 END)").mkString(" + ")
      val mx = "greatest(s_en, s_de, s_fr, s_es, s_zh)"
      s"WITH sc AS (SELECT doc_id, $en AS s_en, $de AS s_de, $fr AS s_fr, $es AS s_es, " +
        s"CAST($zh AS BIGINT) AS s_zh FROM documents), " +
        s"pick AS (SELECT doc_id, CASE WHEN $mx = 0 THEN 'und' " +
        s"WHEN s_en = $mx THEN 'en' WHEN s_de = $mx THEN 'de' " +
        s"WHEN s_fr = $mx THEN 'fr' WHEN s_es = $mx THEN 'es' ELSE 'zh' END AS pred_lang FROM sc) " +
        "SELECT pred_lang, count(*) AS n_docs FROM pick GROUP BY 1 ORDER BY pred_lang"
    },
  )

  // ---------------------------------------------------------------------
  // DuckDB mirrors of SimilarityPipeline's exact rules, one builder
  // each, so every vector oracle (q37–q265) replays the same text for
  // the same rule.

  /** The corpus quantized at [[Q29Scale]] as CTE `name` (vec_id, q) —
    * the mirror of `VectorFunctions.quantizeFp`.
    */
  private def quantizedCteSql(name: String, materialized: Boolean): String =
    s"$name AS ${if (materialized) "MATERIALIZED " else ""}(SELECT vec_id, list_transform(embedding, " +
      s"x -> CAST(round(CAST(x AS DOUBLE) * $Q29Scale) AS BIGINT)) AS q FROM embeddings)"

  /** The portable sign-LSH quantizer's data-scaled bit count and
    * md5-derived ±1 planes. `bits.nb` mirrors
    * SimilarityPipeline.cellBits's INTEGER-ONLY derivation (largest k
    * in [1,16] with n² ≥ 64²·2^(2k−1)) — no float log on either side,
    * so engines cannot disagree at half-integer boundaries (r9 ADVICE
    * fix).
    */
  private val bitsPlanesCteSql: String =
    "bits AS (SELECT COALESCE((SELECT max(k) FROM (SELECT unnest(generate_series(1, 16)) AS k), " +
      "(SELECT count(*) AS n FROM embeddings) " +
      "WHERE CAST(n AS HUGEINT) * n >= 4096 * (CAST(1 AS HUGEINT) << (2*k - 1))), 1) AS nb), " +
      "planes AS (SELECT p, i, CASE WHEN substr(md5('plane:'||p||':'||i),1,1) <= '7' THEN 1 ELSE -1 END AS s " +
      "FROM (SELECT unnest(generate_series(0, (SELECT nb FROM bits)-1)) AS p), " +
      "(SELECT unnest(generate_series(0, 63)) AS i)), "

  /** Portable cells of the quantized frame `src`: per-(vector, plane)
    * integer sign sums over element rows `el`, assembled into the cell
    * bitmask CTE `cells` (vec_id, cell).
    */
  private def signCellsCteSql(src: String, el: String, cells: String): String =
    s"$el AS (SELECT vec_id, i-1 AS i, q[i] AS qi FROM $src, LATERAL (SELECT unnest(generate_series(1, len(q))) AS i) t), " +
      "cellbit AS (SELECT e.vec_id, pl.p, CASE WHEN sum(pl.s * e.qi) >= 0 THEN (1::BIGINT << pl.p) ELSE 0 END AS bit " +
      s"FROM $el e JOIN planes pl ON pl.i = e.i GROUP BY 1, 2), " +
      s"$cells AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS cell FROM cellbit GROUP BY 1)"

  /** Shared DuckDB CTE prefix for the portable sign-LSH quantizer
    * (q37/q38/q217/q258): bit count, planes, q29's fixed-point element
    * lists, cells. Mirrors [[SimilarityPipeline.withCellsPortable]]
    * step for step — a plane or quantization change breaks every
    * oracle together.
    */
  private[llm] val portableCellsCteSql: String =
    bitsPlanesCteSql + quantizedCteSql("fp", materialized = false) + ", " +
      signCellsCteSql("fp", "el", "cells")

  /** The hamming-≤1 band explode of `cells` (SimilarityPipeline's
    * `bandKeys`) as CTE `banded` (vec_id, m, key).
    */
  private def bandedCteSql(cells: String): String =
    "banded AS (SELECT c.vec_id, b AS m, c.cell & ~(1::BIGINT << b) AS key " +
      s"FROM $cells c, LATERAL (SELECT unnest(generate_series(0, (SELECT nb FROM bits)-1)) AS b) t), "

  /** [[bandedCteSql]], then its undirected collision pairs as CTE
    * `cand` (va, vb).
    */
  private def bandCandCteSql(cells: String, cand: String): String =
    bandedCteSql(cells) +
      s"$cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb " +
      "FROM banded a JOIN banded b ON a.m = b.m AND a.key = b.key AND a.vec_id < b.vec_id), "

  /** A scored-pair CTE: `name` = (`cols`, dot_fp, na, nb2), the exact
    * fixed-point dot and squared norms of the pair (`ids`._1, `ids`._2)
    * of `from`, looked up in the quantized frame `fp` under aliases
    * `as`._1 / `as`._2.
    */
  private def scoredCteSql(
      name: String, cols: String, from: String, fp: String,
      ids: (String, String), as: (String, String)): String = {
    val (a, b) = as
    s"$name AS (SELECT $cols, " +
      s"CAST(list_sum(list_transform(generate_series(1, len($a.q)), i -> $a.q[i] * $b.q[i])) AS BIGINT) AS dot_fp, " +
      s"CAST(list_sum(list_transform($a.q, x -> x * x)) AS BIGINT) AS na, " +
      s"CAST(list_sum(list_transform($b.q, x -> x * x)) AS BIGINT) AS nb2 " +
      s"FROM $from JOIN $fp $a ON $a.vec_id = ${ids._1} JOIN $fp $b ON $b.vec_id = ${ids._2})"
  }

  /** `td²·d² op tn²·nₐ·n_b` over a scored pair — the mirror of
    * SimilarityPipeline's `cosCmp`.
    */
  private def cosCmpSql(tNum: Int, tDen: Int, op: String): String = {
    val tn2 = tNum.toLong * tNum
    s"CAST(dot_fp AS HUGEINT) * dot_fp * ${tDen.toLong * tDen} $op " +
      (if (tn2 == 1) "" else s"$tn2 * ") + "CAST(na AS HUGEINT) * nb2"
  }

  /** cos ≥ tNum/tDen over a scored pair, zero vectors excluded —
    * SimilarityPipeline's `cosAtLeast`.
    */
  private def cosAtLeastSql(tNum: Int, tDen: Int): String =
    "dot_fp >= 0 AND na > 0 AND nb2 > 0 AND " + cosCmpSql(tNum, tDen, ">=")

  /** loNum/loDen ≤ cos < hiNum/hiDen over a scored pair. */
  private def cosInBandSql(loNum: Int, loDen: Int, hiNum: Int, hiDen: Int): String =
    "dot_fp >= 0 AND " + cosCmpSql(loNum, loDen, ">=") + " AND " + cosCmpSql(hiNum, hiDen, "<")

  /** Exact squared cosine in basis points, d²·10⁴ div (nₐ·n_b). */
  private val cos2BpSql: String =
    "CAST((CAST(dot_fp AS HUGEINT) * dot_fp * 10000) // (CAST(na AS HUGEINT) * nb2) AS BIGINT) AS cos2_bp"

  /** The hard-negative ranking over a `keyed` CTE (anchor_id,
    * negative_id, dot_fp, rank_fp, cos2_bp): top `k` per anchor by
    * (rank_fp DESC, negative_id).
    */
  private def hardNegativeTopKSql(k: Int): String =
    "ranked AS (SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY rank_fp DESC, negative_id) AS rank " +
      "FROM keyed) " +
      "SELECT anchor_id, CAST(rank AS BIGINT) AS rank, negative_id, dot_fp, cos2_bp " +
      s"FROM ranked WHERE rank <= $k ORDER BY anchor_id, rank"

  /** q217/q263's mining tail over a `band` CTE (va, vb, dot_fp, na, nb2):
    * mirrored to both directions, keyed by q29's integer key against
    * the negative's norm, top `k` per anchor — SimilarityPipeline's
    * `mirroredTopK`.
    */
  private def mirroredTopKSql(k: Int): String =
    "directed AS (SELECT va AS anchor_id, vb AS negative_id, dot_fp, nb2 AS n_neg, na, nb2 FROM band " +
      "UNION ALL SELECT vb, va, dot_fp, na, na, nb2 FROM band), " +
      "keyed AS (SELECT anchor_id, negative_id, dot_fp, " +
      "(CAST(dot_fp AS HUGEINT) * dot_fp * 10000) // n_neg AS rank_fp, " +
      s"$cos2BpSql " +
      "FROM directed), " +
      hardNegativeTopKSql(k)

  /** The IVF search tail after a `qd` CTE (query_id, qq, cell, dot):
    * each query's `nprobe` best cells as `pr` (columns in `prCols`
    * order), their members from `af` scored against the query and
    * ranked by q29's signed key, top `k` per query — SimilarityPipeline's
    * `probeAndRank`.
    */
  private def probeAndRankSql(prCols: String, nprobe: Int, k: Int): String =
    s"pr AS (SELECT $prCols FROM (SELECT $prCols, " +
      s"row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, cell ASC) AS rn FROM qd) WHERE rn <= $nprobe), " +
      "sc AS (SELECT p.query_id, f.vec_id, " +
      "CAST(list_sum(list_transform(generate_series(1, len(f.q)), i -> f.q[i] * p.qq[i])) AS BIGINT) AS dot_fp, " +
      "CAST(list_sum(list_transform(f.q, x -> x * x)) AS BIGINT) AS n_fp " +
      "FROM pr p JOIN af a ON a.cell = p.cell JOIN fp f ON f.vec_id = a.vec_id " +
      "WHERE f.vec_id <> p.query_id), " +
      "rk AS (SELECT query_id, vec_id, CAST((CASE WHEN dot_fp < 0 THEN -1 ELSE 1 END) * " +
      "((CAST(dot_fp AS HUGEINT) * dot_fp * 10000) // n_fp) AS BIGINT) AS rank_fp FROM sc) " +
      "SELECT query_id, vec_id, rank_fp FROM (SELECT query_id, vec_id, rank_fp, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY rank_fp DESC, vec_id ASC) AS rn FROM rk) " +
      s"WHERE rn <= $k ORDER BY query_id, vec_id"

  /** The semantic drop/hit tail over a `pairs` CTE of intra-cell pairs
    * (`pair`._1, `pair`._2, cell): score them in `fp` under aliases
    * `as`, keep those that clear cos ≥ tNum/tDen (CTE `kept`), and emit each `flagged` vector's minimal
    * `witness` as (vec_id, `witnessAs`, cell, cos2_bp) —
    * SimilarityPipeline's `minimalWitness`.
    */
  private def minimalWitnessSql(
      pair: (String, String), as: (String, String), flagged: String, witness: String,
      kept: String, witnessAs: String, tNum: Int, tDen: Int): String =
    scoredCteSql("scored", s"${pair._1}, ${pair._2}, cell", "pairs", "fp", pair, as) + ", " +
      s"$kept AS (SELECT * FROM scored WHERE ${cosAtLeastSql(tNum, tDen)}) " +
      s"SELECT vec_id, $witnessAs, cell, cos2_bp FROM (SELECT $flagged AS vec_id, $witness AS $witnessAs, " +
      "CAST(cell AS BIGINT) AS cell, " +
      s"$cos2BpSql, " +
      s"row_number() OVER (PARTITION BY $flagged ORDER BY $witness) AS rn FROM $kept) " +
      "WHERE rn = 1 ORDER BY vec_id"

  /** q259/q261's drop tail on the assignment `af`: intra-cell pairs
    * va < vb, minimal lower-id keeper per dropped vb at cos ≥ 3/10.
    */
  private val semanticDropsSql: String =
    "pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb, a.cell AS cell " +
      "FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id), " +
      minimalWitnessSql(("va", "vb"), ("fa", "fb"), "vb", "va", "dup", "keeper", 3, 10)

  /** q260/q262/q265's hit tail on the assignment `af`: the flagged side
    * `flagged` (CTE name, membership predicate, alias) meets the witness
    * side `witnesses` (CTE name, predicate) within a cell; minimal
    * witness per flagged vector at cos ≥ 3/10, emitted as `witnessAs`.
    */
  private def semanticHitsSql(
      flagged: (String, String, String), witnesses: (String, String), witnessAs: String): String = {
    val (fName, fWhere, f) = flagged
    val (wName, wWhere) = witnesses
    s"$fName AS (SELECT vec_id, cell FROM af WHERE $fWhere), " +
      s"$wName AS (SELECT vec_id, cell FROM af WHERE $wWhere), " +
      s"pairs AS (SELECT $f.vec_id AS tv, b.vec_id AS bv, $f.cell AS cell " +
      s"FROM $fName $f JOIN $wName b ON $f.cell = b.cell), " +
      minimalWitnessSql(("tv", "bv"), ("ft", "fb"), "tv", "bv", "hits", witnessAs, 3, 10)
  }

  // q37 — IVF approximate nearest neighbors: 5 query vectors, top-3
  // neighbors each under the data-scaled sign-LSH coarse quantizer
  // (cells ∝ N / target occupancy) with hamming-≤1 multiprobe.
  //
  // Oracle-checked since round 8 (was float-scored/rows-only): the
  // registered run uses the PORTABLE quantizer — md5-derived ±1 planes,
  // cell signs on exact fixed-point dots — and ranks candidates per
  // query with q29's exact integer key sign(d)·(d²·10⁴ div n), so the
  // whole cascade (planes → cells → multiprobe → candidates → ranking)
  // hash-matches the DuckDB oracle. It is the one sign-LSH top-k form;
  // SimilarityPipelineSpec pins its recall vs brute force.
  val q37: QuerySpec = QuerySpec(
    "q37_ann_ivf",
    (s, d) => {
      val emb = embeddings(s, d)
      val bits = SimilarityPipeline.cellBits(graft.ops.CorpusStats.tableRows(s, d, "embeddings"))
      SimilarityPipeline
        .annTopKPortable(emb, emb.where(col("vec_id") < 5), k = 3, bits = bits)
        .orderBy("query_id", "vec_id")
    },
    Some(
      s"WITH $portableCellsCteSql, " +
        "q AS (SELECT c.vec_id AS query_id, c.cell AS qcell, f.q AS qq FROM cells c JOIN fp f USING (vec_id) " +
        "WHERE c.vec_id < 5), " +
        "probes AS (SELECT query_id, qq, qcell AS probe FROM q " +
        "UNION ALL SELECT query_id, qq, CAST(xor(qcell, 1::BIGINT << b) AS BIGINT) FROM q, " +
        "LATERAL (SELECT unnest(generate_series(0, (SELECT nb FROM bits)-1)) AS b) t), " +
        "scored AS (SELECT p.query_id, c.vec_id, " +
        "CAST(list_sum(list_transform(generate_series(1, len(f.q)), i -> f.q[i] * p.qq[i])) AS BIGINT) AS dot_fp, " +
        "CAST(list_sum(list_transform(f.q, x -> x * x)) AS BIGINT) AS n_fp " +
        "FROM probes p JOIN cells c ON c.cell = p.probe AND c.vec_id <> p.query_id " +
        "JOIN fp f ON f.vec_id = c.vec_id), " +
        "keyed AS (SELECT query_id, vec_id, dot_fp, " +
        "CAST((CASE WHEN dot_fp < 0 THEN -1 ELSE 1 END) * " +
        "((CAST(dot_fp AS HUGEINT) * dot_fp * 10000) // n_fp) AS BIGINT) AS rank_fp FROM scored), " +
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rank_fp DESC, vec_id) AS rn " +
        "FROM keyed) " +
        "SELECT query_id, vec_id, dot_fp, rank_fp FROM ranked WHERE rn <= 3 ORDER BY query_id, vec_id"
    ),
  )

  // q38 — embedding-cosine near-dup pairs under the same quantizer:
  // banded hamming-≤1 candidates, threshold verified relationally on
  // candidates only (no N² cross product).
  //
  // Oracle-checked since round 8 (was float-verified/rows-only): the
  // portable quantizer generates candidates and the cos ≥ 2/5
  // threshold is cross-multiplied into the exact integer test
  // d ≥ 0 ∧ 25·d² ≥ 4·nₐ·n_b in DECIMAL(38,0) — no float decision
  // anywhere, so candidates AND the verified set hash-match DuckDB.
  // Output carries cos2_bp = d²·10⁴ div (nₐ·n_b), the exact squared
  // cosine in basis points.
  val q38: QuerySpec = QuerySpec(
    "q38_embed_near_dup",
    (s, d) => {
      val emb = embeddings(s, d)
      val bits = SimilarityPipeline.cellBits(graft.ops.CorpusStats.tableRows(s, d, "embeddings"))
      SimilarityPipeline
        .annNearDupPairsPortable(emb, tNum = 2, tDen = 5, bits = bits)
        .orderBy("va", "vb")
    },
    Some(
      s"WITH $portableCellsCteSql, " +
        bandCandCteSql("cells", "cand") +
        scoredCteSql("verified", "va, vb", "cand", "fp", ("va", "vb"), ("fa", "fb")) + " " +
        s"SELECT va, vb, dot_fp, $cos2BpSql " +
        "FROM verified " +
        s"WHERE ${cosAtLeastSql(2, 5)} " +
        "ORDER BY va, vb"
    ),
  )

  // q39 — bounded-heap top-k per group via the custom TopK Aggregator
  // (graft.functions.TopK): k-row buffers + map-side combine instead of
  // a full per-group sort. Oracle-checked against the window form.
  val q39: QuerySpec = QuerySpec(
    "q39_topk_aggregate",
    (s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(graft.functions.TopK.topK(3, col("value"), col("event_id")).as("top"))
        .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(
          col("event_type"),
          (col("pos") + 1).cast(LongType).as("rank"),
          col("t.id").as("event_id"),
          col("t.score").as("value"),
        )
        .orderBy("event_type", "rank"),
    Some(
      "SELECT event_type, rank, event_id, value FROM (" +
        "SELECT event_type, event_id, value, row_number() OVER (" +
        "PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rank FROM events) " +
        "WHERE rank <= 3 ORDER BY event_type, rank"
    ),
  )

  // q40 — exact dedup, materialized form: the kept representative
  // (lowest doc_id) per content hash plus its duplicate count — the
  // actual output a dedup pipeline ships downstream (q25 reports the
  // rates). Hash-groupBy: uniform md5 keys, no skew at any scale.
  val q40: QuerySpec = QuerySpec(
    "q40_dedup_keep_first",
    (s, d) =>
      documents(s, d)
        .select(md5(col("text")).as("h"), col("doc_id"), col("lang"))
        .groupBy("h")
        .agg(
          min("doc_id").as("kept_doc_id"),
          count(lit(1)).as("n_copies"),
          min("lang").as("lang"),
        )
        .select("kept_doc_id", "n_copies", "lang")
        .orderBy("kept_doc_id"),
    Some(
      "SELECT min(doc_id) AS kept_doc_id, count(*) AS n_copies, min(lang) AS lang " +
        "FROM documents GROUP BY md5(text) ORDER BY kept_doc_id"
    ),
  )

  // q41 — the COMPOSED dedup cascade (the registered 100 TB pipeline):
  // MinHash-LSH candidates → exact Jaccard verify on candidates only.
  // Oracle: identical SQL to q30's full exact pairs — any pair passing
  // exact-verify ≥ 0.5 is by construction in the full exact output, and
  // 16×4 banding recovers every ≥0.5 pair on all test corpora incl. a
  // 16× replica (a hash-matched CORRECTNESS row proves it each round,
  // which is the point: the scalable plan must reproduce the exact
  // plan's answer). r=4 keeps random band collisions ≈ j⁴ — the
  // candidate set stays ∝ true dups, not corpus pairs (see
  // TextPipeline.dedupCascade scaladoc for the measured 16× numbers).
  val q41: QuerySpec = QuerySpec(
    "q41_dedup_cascade",
    (s, d) =>
      TextPipeline
        .dedupCascade(documents(s, d).select("doc_id", "text"),
          shingleK = 3, k = 64, bands = 16, rowsPerBand = 4, threshold = 0.5)
        .select(col("da"), col("db"), round(col("jac"), 4).as("jaccard"))
        .orderBy("da", "db"),
    q30.oracle,
  )

  /** One exact-integer Lloyd round as DuckDB CTEs: assignment of `fp`
    * against centroid table `prev` (argmax int dot, tie → lowest cell),
    * truncated integer means, isqrt normalization to CS-scaled unit
    * vectors — mirroring [[SimilarityPipeline.kmeansCentroidsFp]] step
    * for step (the MATERIALIZED-round-CTE idiom from q122/q189: each
    * round pins on its own name, `c$t`). Suffixed names so rounds chain.
    */
  private def q42RoundCtes(t: Int, prev: String, centScale: Long): String =
    s"d$t AS (SELECT f.vec_id, c.cell, " +
      "CAST(list_sum(list_transform(generate_series(1, len(f.q)), i -> f.q[i] * c.cent[i])) AS BIGINT) AS dot " +
      s"FROM fp f CROSS JOIN $prev c), " +
      s"a$t AS MATERIALIZED (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
      s"row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell ASC) AS rn FROM d$t) WHERE rn = 1), " +
      lloydUpdateCtes(t, "fp", centScale)

  /** Round `t`'s exact Lloyd update from its assignment `a$t` over the
    * quantized frame `src`: truncated integer means, isqrt
    * normalization to `centScale`-scaled unit vectors, as the
    * materialized centroid CTE `c$t` — SimilarityPipeline's
    * `lloydUpdateFp`.
    */
  private def lloydUpdateCtes(t: Int, src: String, centScale: Long): String =
    s"u$t AS (SELECT a.cell, t.i, CAST(sum(f.q[t.i]) AS BIGINT) AS s, count(*) AS nc " +
      s"FROM a$t a JOIN $src f ON f.vec_id = a.vec_id, " +
      "LATERAL (SELECT unnest(generate_series(1, len(f.q))) AS i) t GROUP BY 1, 2), " +
      // abs-then-negate truncated division so engines' negative-operand
      // conventions never matter (both see non-negative operands)
      s"m$t AS (SELECT cell, i, CASE WHEN s < 0 THEN -((-s) // nc) ELSE s // nc END AS m FROM u$t), " +
      s"n$t AS (SELECT cell, CAST(sum(m * m) AS BIGINT) AS n2 FROM m$t GROUP BY 1), " +
      s"r$t AS (SELECT cell, ${graft.ops.Exact.isqrtSql("n2")} AS r FROM n$t), " +
      s"c$t AS MATERIALIZED (SELECT m.cell, list(CASE WHEN r.r = 0 THEN m.m " +
      s"WHEN m.m < 0 THEN -((-m.m) * $centScale // r.r) ELSE m.m * $centScale // r.r END " +
      s"ORDER BY m.i) AS cent FROM m$t m JOIN r$t r ON r.cell = m.cell GROUP BY m.cell)"

  /** The shared fixed-point k-means CTE chain (quantize → seed →
    * `iters` Lloyd rounds → final assignment): yields `fp (vec_id, q)`
    * and `af (vec_id, cell)`. The prefix of [[q42OracleSql]], factored
    * so q259's semantic dedup replays the identical clustering.
    */
  private def kmeansAssignCteSql(iters: Int, centScale: Long): String = {
    val rounds = (1 to iters).map(t => q42RoundCtes(t, if (t == 1) "c0" else s"c${t - 1}", centScale))
    val fin = iters + 1 // final assignment round (assignment CTEs only)
    quantizedCteSql("fp", materialized = true) + ", " +
      // cells = max(2, isqrt(n) div 2), the exact-isqrt mirror of the
      // registration's driver-side Exact.isqrtLong
      s"cs AS (SELECT GREATEST(2, ${graft.ops.Exact.isqrtSql("n")} // 2) AS c " +
      "FROM (SELECT count(*) AS n FROM fp)), " +
      "c0 AS MATERIALIZED (SELECT s.rn - 1 AS cell, s.q AS cent FROM " +
      "(SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) AS rn FROM fp) s, cs WHERE s.rn <= cs.c), " +
      rounds.mkString("", ", ", ", ") +
      // final corpus assignment against the last round's centroids
      s"d$fin AS (SELECT f.vec_id, c.cell, " +
      "CAST(list_sum(list_transform(generate_series(1, len(f.q)), i -> f.q[i] * c.cent[i])) AS BIGINT) AS dot " +
      s"FROM fp f CROSS JOIN c$iters c), " +
      s"af AS MATERIALIZED (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
      s"row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell ASC) AS rn FROM d$fin) WHERE rn = 1)"
  }

  /** The full q42 oracle: quantize → seed (lowest vec_ids) → `iters`
    * Lloyd rounds → final assignment → nprobe-cell probes → q29 integer
    * ranking. Every step replays [[SimilarityPipeline.kmeansTopKFp]]
    * verbatim over exact integers.
    */
  private def q42OracleSql(iters: Int, nprobe: Int, k: Int, centScale: Long): String = {
    s"WITH ${kmeansAssignCteSql(iters, centScale)}, " +
      // query probes: nprobe best cells per query by the same int dot
      "qd AS (SELECT s.vec_id AS query_id, c.cell, s.q AS qq, " +
      "CAST(list_sum(list_transform(generate_series(1, len(s.q)), i -> s.q[i] * c.cent[i])) AS BIGINT) AS dot " +
      s"FROM fp s CROSS JOIN c$iters c WHERE s.vec_id < 5), " +
      // candidates = probed cells' members, ranked by q29's exact key
      probeAndRankSql("query_id, cell, qq", nprobe, k)
  }

  // q42 — ANN under the spherical k-means quantizer (index built in
  // DataFrame ops, nprobe=2). The adaptive-quantizer counterpart of
  // q37's sign-LSH cells: better recall on clustered corpora for a
  // once-per-corpus build cost.
  //
  // Oracle-checked since round 9 (was no-oracle/floats): the registered
  // run is the FIXED-POINT form — seeding, every Lloyd round, centroid
  // normalization (truncated means + exact isqrt, see
  // SimilarityPipeline.kmeansCentroidsFp), probe choice and the final
  // q29 ranking key are all exact int64 decisions, replayed verbatim by
  // the materialized-round-CTE oracle (the q122 iterative-integer
  // precedent). It is the one k-means top-k form; SimilarityPipelineSpec
  // pins its recall vs brute force.
  val q42: QuerySpec = QuerySpec(
    "q42_ann_kmeans",
    (s, d) => {
      val emb = embeddings(s, d)
      val cells = math.max(2L, graft.ops.Exact.isqrtLong(graft.ops.CorpusStats.tableRows(s, d, "embeddings")) / 2).toInt
      SimilarityPipeline
        .kmeansTopKFp(emb, emb.where(col("vec_id") < 5), k = 3, cells = cells, iters = 2, nprobe = 2)
        .orderBy("query_id", "vec_id")
    },
    Some(q42OracleSql(iters = 2, nprobe = 2, k = 3, centScale = 1000000L)),
  )

  // q43 — vocabulary building: corpus-wide token frequencies, top 50.
  // The statistics pass every tokenizer/vocab pipeline runs; one
  // explode + hash-groupBy (uniform token keys), TakeOrdered for the
  // head. Oracle-checked.
  val q43: QuerySpec = QuerySpec(
    "q43_vocab_topk",
    (s, d) =>
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .groupBy("w")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("w"))
        .limit(50),
    Some(
      "SELECT w, count(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS w " +
        "FROM documents) WHERE w <> '' GROUP BY 1 ORDER BY cnt DESC, w LIMIT 50"
    ),
  )

  // q44 — the composed C4-style cleaning pipeline (dedup keep-first →
  // token-length gate → stopword-mass gate) as one oracle-checked
  // query: the end-to-end "make training data" pass, not just its
  // stages.
  /** The clean-gate parameters, single-sourced for q44 and q98's
    * survivorship pipeline (the splitCol rule: both sides of every
    * composition must share one definition, Scala and SQL alike).
    */
  val CleanStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  val CleanMinTokens = 20
  val CleanMaxTokens = 500
  val CleanMinStopwordRatio = 0.01

  /** DuckDB CTE chain (keep/scored/clean) mirroring
    * [[TextPipeline.cleanCorpus]] with the parameters above — `clean`
    * is the surviving-documents relation (all documents columns +
    * n_tokens + stopword_ratio).
    */
  private[llm] val cleanCteSql: String = {
    val stops = CleanStopwords.map("'" + _ + "'").mkString(",")
    "keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), " +
      "scored AS (SELECT d.*, " +
      "CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, " +
      "round(CAST(len(list_filter(string_split(d.text, ' '), " +
      s"w -> w IN ($stops))) AS DOUBLE) " +
      "/ len(string_split(d.text, ' ')), 4) AS stopword_ratio " +
      "FROM documents d JOIN keep k ON d.doc_id = k.doc_id), " +
      "clean AS (SELECT * FROM scored WHERE n_tokens BETWEEN " +
      s"$CleanMinTokens AND $CleanMaxTokens AND stopword_ratio >= $CleanMinStopwordRatio)"
  }

  /** [[TextPipeline.cleanCorpus]] under the shared parameters. */
  private[llm] def cleanDocs(s: org.apache.spark.sql.SparkSession, d: String) =
    TextPipeline.cleanCorpus(documents(s, d), CleanStopwords,
      CleanMinTokens, CleanMaxTokens, CleanMinStopwordRatio)

  val q44: QuerySpec = QuerySpec(
    "q44_clean_pipeline",
    (s, d) =>
      cleanDocs(s, d)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("stopword_ratio"))
        .orderBy("doc_id"),
    Some(
      s"WITH $cleanCteSql " +
        "SELECT doc_id, lang, n_tokens, stopword_ratio FROM clean ORDER BY doc_id"
    ),
  )

  // q45 — multimodal metadata pass through graft.multimodal.mediaStats:
  // a media table is derived deterministically from documents (text
  // bytes as the opaque blob, kind/format from doc_id, dimensions from
  // n_chars) so the metadata path is ORACLE-checked — the decode path
  // stays ScalaTest-only (no codec libs in the container). The plan
  // must never touch the binary column: mediaStats groups on declared
  // metadata only, and column pruning drops `bytes` from the scan.
  val q45: QuerySpec = QuerySpec(
    "q45_media_stats",
    (s, d) => {
      val kinds = array(lit("image"), lit("audio"), lit("video"))
      val formats = array(lit("png"), lit("wav"), lit("mp4"))
      val idx = (col("doc_id") % 3 + 1).cast("int")
      val media = documents(s, d).select(
        col("doc_id"),
        element_at(kinds, idx).as("kind"),
        element_at(formats, idx).as("format"),
        (col("n_chars") % 1920).cast("int").as("width"),
        ((col("n_chars") * 3) % 1080).cast("int").as("height"),
        col("text").cast("binary").as("bytes"),
      )
      graft.multimodal.Multimodal.mediaStats(media)
        .select(col("kind"), col("format"), col("n"),
          col("max_w").cast("long").as("max_w"), col("max_h").cast("long").as("max_h"))
    },
    Some(
      "SELECT kind, format, count(*) AS n, CAST(max(width) AS BIGINT) AS max_w, " +
        "CAST(max(height) AS BIGINT) AS max_h FROM (" +
        "SELECT (['image','audio','video'])[(doc_id % 3) + 1] AS kind, " +
        "(['png','wav','mp4'])[(doc_id % 3) + 1] AS format, " +
        "n_chars % 1920 AS width, (n_chars * 3) % 1080 AS height FROM documents) " +
        "GROUP BY 1, 2 ORDER BY kind, format"
    ),
  )

  // q252 — perceptual-hash image near-dup (round 8): dHash/aHash over
  // 8×8 integer gray grids, banded-hamming candidates, integer verify —
  // the candidates-then-verify family (q41 sets, q38 vectors, q55
  // strings) extended to the MEDIA axis. The media table is derived
  // deterministically from documents (the q45 stub discipline) WITH
  // PLANTED RE-ENCODES: every doc yields an original ('png'); docs with
  // doc_id%4=0 add a bit-identical 'bmp' copy (lossless re-encode →
  // hamming 0) and doc_id%4=1 a 'jpg' copy with one perturbed cell
  // (lossy re-encode → hamming ≤ 1) — the query RECOVERS every planted
  // pair from hash structure alone (banding guarantees a clean band at
  // hamming ≤ 3 by pigeonhole). All arithmetic is integer comparisons +
  // bit packing in 56-bit hashes, so the whole cascade hash-matches the
  // DuckDB oracle; the REAL-pixel path (ImageIO/BMP decode → the same
  // bit rules) is pinned in MultimodalSpec with an actual PNG↔BMP
  // re-encoded pair.
  val q252: QuerySpec = QuerySpec(
    "q252_phash_near_dup",
    (s, d) => {
      val MM = graft.multimodal.Multimodal
      // Fan out before the grid pass: the 64-cell integer grid is the
      // query's per-row hot expression, and it previously ran inside
      // the 2-split document scan (stage-traced r10: 4.0 of the
      // query's ~4.3 s in that one 2-task stage). Widen conditionally
      // (graft.ops.Widen — a production-scale scan keeps its own
      // splits). The originals/copies branches each evaluate g — a
      // deliberate recompute: pinning the grid frame to share one
      // evaluation was measured at the 64× replica and LOST (the
      // 64-long arrays churn the old gen as checkpoint blocks; two
      // codegen'd parallel passes are cheaper than one materialized
      // one).
      val g = graft.ops.Widen
        .widened(documents(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"), MM.textPixelGrid64(col("text")).as("v"))
      val originals = g.select(
        (col("doc_id") * 2).as("media_id"), lit("png").as("format"), col("v"))
      val copies = g.where(pmod(col("doc_id"), lit(4)) <= 1)
        .select(
          (col("doc_id") * 2 + 1).as("media_id"),
          when(pmod(col("doc_id"), lit(4)) === 0, lit("bmp")).otherwise(lit("jpg")).as("format"),
          when(pmod(col("doc_id"), lit(4)) === 1,
            concat(array(pmod(element_at(col("v"), 1) + 7, lit(256))), slice(col("v"), 2, 63)))
            .otherwise(col("v")).as("v"))
      MM.phashNearDupPairs(originals.unionByName(copies), maxHamming = 12)
        .orderBy("ma", "mb")
    },
    Some(
      "WITH g AS (SELECT doc_id, list_transform(generate_series(0, 63), j -> " +
        "CAST(('0x' || substr(md5(substr(text, (j*len(text))//64 + 1, " +
        "((j+1)*len(text))//64 - (j*len(text))//64)), 1, 2)) AS INT)) AS v FROM documents), " +
        "media AS (SELECT doc_id*2 AS media_id, 'png' AS format, v FROM g " +
        "UNION ALL SELECT doc_id*2+1, CASE WHEN doc_id%4=0 THEN 'bmp' ELSE 'jpg' END, " +
        "CASE WHEN doc_id%4=1 THEN list_concat([(v[1]+7)%256], v[2:64]) ELSE v END " +
        "FROM g WHERE doc_id%4 <= 1), " +
        "h AS (SELECT media_id, format, " +
        "(SELECT CAST(sum(CASE WHEN v[r*8+c+2] > v[r*8+c+1] THEN (1::BIGINT << (r*7+c)) ELSE 0 END) AS BIGINT) " +
        "FROM (SELECT unnest(generate_series(0,7)) AS r), (SELECT unnest(generate_series(0,6)) AS c)) AS dhash, " +
        "(SELECT CAST(sum(CASE WHEN 56*v[j+1] > (SELECT sum(v[k+1]) FROM (SELECT unnest(generate_series(0,55)) AS k)) " +
        "THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) FROM (SELECT unnest(generate_series(0,55)) AS j)) AS ahash " +
        "FROM media), " +
        "banded AS (SELECT media_id, format, dhash, ahash, b, (dhash >> (14*b)) & 16383 AS key " +
        "FROM h, LATERAL (SELECT unnest(generate_series(0,3)) AS b) t), " +
        "cand AS (SELECT DISTINCT a.media_id ma, b.media_id mb, a.format fa, b.format fb, " +
        "a.dhash da, b.dhash db, a.ahash aa, b.ahash ab " +
        "FROM banded a JOIN banded b ON a.b = b.b AND a.key = b.key AND a.media_id < b.media_id) " +
        "SELECT ma, mb, fa, fb, CAST(bit_count(xor(da, db)) AS BIGINT) AS ham_d, " +
        "CAST(bit_count(xor(aa, ab)) AS BIGINT) AS ham_a " +
        "FROM cand WHERE bit_count(xor(da, db)) <= 12 ORDER BY ma, mb"
    ),
  )

  // q46 — skew-salted join, oracle-proven: the deterministic salting in
  // graft.ops.Skew must be INVISIBLE in the result (same rows as the
  // plain join, which is exactly what the unsalted oracle SQL
  // computes), while spreading each hot key over `salts` reducer
  // partitions. event_type has 5 values over 10k+ events — a genuinely
  // skewed join key.
  val q46: QuerySpec = QuerySpec(
    "q46_skew_salted_join",
    (s, d) => {
      val ev = events(s, d).select(col("event_type"), col("value"))
      val dim = ev.select(col("event_type")).distinct()
        .withColumn("weight", length(col("event_type")).cast("long"))
      graft.ops.Skew.saltedInnerJoin(ev, dim, Seq("event_type"), salts = 8)
        .groupBy("event_type", "weight")
        .agg(count(lit(1)).as("n"), dsum("value").as("sum_value"))
        .select(col("event_type"), col("weight"), col("n"),
          round(col("sum_value") * col("weight"), 2).as("weighted"))
        .orderBy("event_type")
    },
    Some(
      "WITH dim AS (SELECT DISTINCT event_type, CAST(length(event_type) AS BIGINT) AS weight FROM events) " +
        "SELECT e.event_type, d.weight, count(*) AS n, " +
        s"round(${dsumSql("e.value")} * d.weight, 2) AS weighted " +
        "FROM events e JOIN dim d ON e.event_type = d.event_type " +
        "GROUP BY 1, 2 ORDER BY e.event_type"
    ),
  )

  // q47 — as-of join (graft.ops.AsOf): each click event looks up the
  // user's latest purchase at-or-before its timestamp. Union-tag + one
  // window pass (single shuffle on user_id, no range explosion) —
  // oracle-checked against DuckDB's native ASOF JOIN, which pins the
  // tie/inclusivity semantics exactly.
  val q47: QuerySpec = QuerySpec(
    "q47_asof_join",
    (s, d) => {
      val ev = events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          unix_micros(col("ts").cast("timestamp")).as("purchase_us"), round(col("value"), 4).as("purchase_value"))
      // (user_id, ts) is unique in the corpus so ties cannot occur, but
      // the deterministic tie-break costs nothing and guards a future
      // corpus regeneration
      graft.ops.AsOf.asOfJoin(
        clicks, purchases,
        keys = Seq("user_id"), tsCol = "ts_us",
        rightValueCols = Seq("purchase_us", "purchase_value"),
        rightTieBreak = Some("purchase_id"))
        .select("event_id", "user_id", "ts_us", "purchase_us", "purchase_value")
        .orderBy("event_id")
    },
    Some(
      "WITH a AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'), " +
        "b AS (SELECT user_id, epoch_us(ts) AS purchase_us, round(value, 4) AS purchase_value " +
        "FROM events WHERE event_type = 'purchase') " +
        "SELECT a.event_id, a.user_id, a.ts_us, b.purchase_us, b.purchase_value " +
        "FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND a.ts_us >= b.purchase_us " +
        "ORDER BY a.event_id"
    ),
  )

  // q48 — range join (graft.ops.RangeJoin): every click inside the
  // one-hour attribution window after any purchase by the same user.
  // Bucketed equijoin (intervals explode into covered 1h buckets, join
  // on (user, bucket), exact containment filter) instead of the
  // BroadcastNestedLoopJoin Spark would plan for the raw range
  // predicate. Oracle: the plain BETWEEN join in DuckDB.
  val q48: QuerySpec = QuerySpec(
    "q48_range_join",
    (s, d) => {
      val hourUs = 3600L * 1000000L
      val ev = events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      val windows = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts").cast("timestamp")).as("start_us"),
          (unix_micros(col("ts").cast("timestamp")) + hourUs).as("end_us"))
      graft.ops.RangeJoin.bucketedRangeJoin(
        clicks, windows, keys = Seq("user_id"),
        pointCol = "ts_us", startCol = "start_us", endCol = "end_us",
        bucketWidth = hourUs)
        .select("user_id", "click_id", "purchase_id", "ts_us", "start_us")
        .orderBy("click_id", "purchase_id")
    },
    Some(
      "WITH a AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'), " +
        "b AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS start_us, " +
        "epoch_us(ts) + 3600000000 AS end_us FROM events WHERE event_type = 'purchase') " +
        "SELECT a.user_id, a.click_id, b.purchase_id, a.ts_us, b.start_us " +
        "FROM a JOIN b ON a.user_id = b.user_id AND a.ts_us >= b.start_us AND a.ts_us < b.end_us " +
        "ORDER BY a.click_id, b.purchase_id"
    ),
  )

  // q55 — fuzzy record linkage: blocking on the first-2-words key, then
  // levenshtein verify over 60-char heads on candidates only (the
  // edit-distance member of the candidates-then-verify family: q41 sets,
  // q38 vectors, q55 strings). Spark and DuckDB agree on levenshtein
  // (unit-cost edit distance), so this one IS oracle-checkable.
  val q55: QuerySpec = QuerySpec(
    "q55_fuzzy_blocked",
    (s, d) =>
      TextPipeline
        .fuzzyBlockedPairs(documents(s, d).select("doc_id", "text"))
        .orderBy("da", "db"),
    Some(
      "WITH t AS (SELECT doc_id, lower(substr(text, 1, 60)) AS head, " +
        "md5(lower(array_to_string(string_split(text, ' ')[1:2], ' '))) AS blk FROM documents) " +
        "SELECT a.doc_id AS da, b.doc_id AS db, levenshtein(a.head, b.head) AS dist " +
        "FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE levenshtein(a.head, b.head) <= 15 ORDER BY da, db"
    ),
  )

  // ---------------------------------------------------------------------
  /** One fixed-point power-iteration round as DuckDB CTEs (axis `ax`,
    * round `t`): matvec over the downscaled scatter `ap`, uniform
    * downscale to 5e5, optional Gram–Schmidt against the final axis 1
    * (scale-2^19 truncated coefficient), isqrt normalization to 1e6 —
    * mirroring [[SimilarityPipeline.topTwoAxesFp]]'s round step for
    * step (the q42 materialized-round idiom applied to PCA).
    */
  private def pcaRoundCtes(ax: Int, t: Int, orth: Boolean): String = {
    val prev = if (t == 1) s"v${ax}_0" else s"v${ax}_${t - 1}"
    val base =
      s"w${ax}_$t AS (SELECT ap.i, CAST(sum(ap.a * v.v) AS BIGINT) AS w " +
        s"FROM ap JOIN $prev v ON v.i = ap.j GROUP BY 1), " +
        s"d${ax}_$t AS (SELECT (max(abs(w)) // 500000) + 1 AS dw FROM w${ax}_$t), " +
        s"s${ax}_$t AS (SELECT i, CASE WHEN w < 0 THEN -((-w) // dw) ELSE w // dw END AS w " +
        s"FROM w${ax}_$t, d${ax}_$t)"
    val pre = if (!orth) s"s${ax}_$t" else {
      s"o${ax}_$t"
    }
    val orthCtes = if (!orth) "" else
      s", g${ax}_$t AS (SELECT CAST(sum(s.w * a.v) AS BIGINT) AS dw, " +
        s"CAST(sum(a.v * a.v) AS BIGINT) AS d11 FROM s${ax}_$t s JOIN a1f a ON a.i = s.i), " +
        s"o${ax}_$t AS (SELECT i, w - (CASE WHEN p < 0 THEN -((-p) // 524288) ELSE p // 524288 END) AS w " +
        s"FROM (SELECT s.i, s.w, CASE WHEN d11 = 0 THEN 0 ELSE " +
        "(CASE WHEN dw < 0 THEN -((-dw) * 524288 // d11) ELSE (dw * 524288) // d11 END) * a.v END AS p " +
        s"FROM s${ax}_$t s JOIN a1f a ON a.i = s.i, g${ax}_$t))"
    base + orthCtes +
      s", n${ax}_$t AS (SELECT ${graft.ops.Exact.isqrtSql("n2")} AS r " +
      s"FROM (SELECT CAST(sum(w*w) AS BIGINT) AS n2 FROM $pre)), " +
      s"v${ax}_$t AS MATERIALIZED (SELECT i, CASE WHEN r = 0 THEN w " +
      s"WHEN w < 0 THEN -((-w) * 1000000 // r) ELSE w * 1000000 // r END AS v FROM $pre, n${ax}_$t)"
  }

  /** The fixed-point axes chain FROM an existing `fp` CTE
    * (vec_id, q: list<bigint>): truncated-mean center → HUGEINT
    * scatter → uniform downscale → `iters` fixed-point rounds per axis
    * (axis 2 deflated against the pinned axis 1) → sign pins. Leaves
    * `ce` (centered elements), `a1f`, `a2f` in scope — shared by the
    * q202 (projection) and q224 (grid) oracles so the PCA replay can
    * never fork between them.
    */
  private def pcaAxesCtes(iters: Int): String = {
    val rounds1 = (1 to iters).map(t => pcaRoundCtes(1, t, orth = false)).mkString(", ")
    val rounds2 = (1 to iters).map(t => pcaRoundCtes(2, t, orth = true)).mkString(", ")
    "el AS (SELECT vec_id, i-1 AS i, q[i] AS x FROM fp, " +
      "LATERAL (SELECT unnest(generate_series(1, len(q))) AS i) t), " +
      "mn AS (SELECT i, CASE WHEN s < 0 THEN -((-s) // n) ELSE s // n END AS m " +
      "FROM (SELECT i, CAST(sum(x) AS BIGINT) AS s, count(*) AS n FROM el GROUP BY 1)), " +
      "ce AS MATERIALIZED (SELECT e.vec_id, e.i, e.x - m.m AS x FROM el e JOIN mn m ON m.i = e.i), " +
      "a0 AS MATERIALIZED (SELECT e1.i AS i, e2.i AS j, " +
      "CAST(sum(CAST(e1.x AS HUGEINT) * e2.x) AS HUGEINT) AS a0 " +
      "FROM ce e1 JOIN ce e2 ON e1.vec_id = e2.vec_id GROUP BY 1, 2), " +
      "da AS (SELECT (max(abs(a0)) // 60000000000) + 1 AS d FROM a0), " +
      "ap AS MATERIALIZED (SELECT i, j, CAST(CASE WHEN a0 < 0 THEN -((-a0) // d) " +
      "ELSE a0 // d END AS BIGINT) AS a FROM a0, da), " +
      "dg AS (SELECT i, a FROM ap WHERE i = j), " +
      "k1 AS (SELECT i AS k FROM dg ORDER BY a DESC, i LIMIT 1), " +
      "v1_0 AS (SELECT DISTINCT i, CASE WHEN i = (SELECT k FROM k1) THEN 1000000 ELSE 0 END AS v FROM ap), " +
      rounds1 + ", " +
      s"sg1 AS (SELECT CASE WHEN sum(v) >= 0 THEN 1 ELSE -1 END AS sg FROM v1_$iters), " +
      s"a1f AS MATERIALIZED (SELECT i, v * sg AS v FROM v1_$iters, sg1), " +
      "k2 AS (SELECT i AS k FROM dg WHERE i <> (SELECT k FROM k1) ORDER BY a DESC, i LIMIT 1), " +
      "v2_0 AS (SELECT DISTINCT i, CASE WHEN i = (SELECT k FROM k2) THEN 1000000 ELSE 0 END AS v FROM ap), " +
      rounds2 + ", " +
      s"sg2 AS (SELECT CASE WHEN sum(v) >= 0 THEN 1 ELSE -1 END AS sg FROM v2_$iters), " +
      s"a2f AS MATERIALIZED (SELECT i, v * sg AS v FROM v2_$iters, sg2)"
  }

  /** The full q202 oracle: quantize + [[pcaAxesCtes]] + exact integer
    * projections. Replays [[SimilarityPipeline.pcaProjectFp]] verbatim.
    */
  private def q202OracleSql(iters: Int): String =
    s"WITH ${quantizedCteSql("fp", materialized = true)}, " +
      pcaAxesCtes(iters) + " " +
      "SELECT c.vec_id, CAST(sum(c.x * a1.v) AS BIGINT) AS p1_fp, " +
      "CAST(sum(c.x * a2.v) AS BIGINT) AS p2_fp " +
      "FROM ce c JOIN a1f a1 ON a1.i = c.i JOIN a2f a2 ON a2.i = c.i " +
      "GROUP BY 1 ORDER BY vec_id"

  // q202 — PCA projection of the embedding corpus onto its top-2
  // principal axes: the dimensionality reduction that fronts ANN at
  // scale. The corpus is touched by two aggregate passes (the exact
  // mean, then the scatter) and the projection pass; the d×d scatter
  // (dimension-sized, never corpus-sized) is collected once and the
  // power rounds run as exact driver arithmetic.
  //
  // Oracle-checked since round 9 (was rows-only/float): the registered
  // run is the FIXED-POINT form ([[SimilarityPipeline.pcaProjectFp]])
  // — the q42 move applied to an EIGENVECTOR iteration. Quantization,
  // truncated-mean centering, the exact integer scatter matrix
  // (DECIMAL accumulate, uniform downscale), every power-iteration
  // round (matvec → downscale → isqrt-normalize, axis 2 deflated
  // against the pinned axis 1 at a 2¹⁹-scale truncated coefficient),
  // sign pins, and the final projections are ALL integer decisions,
  // replayed verbatim by materialized-round DuckDB CTEs. It is the one
  // PCA form; planted-axis alignment, orthogonality, determinism and the
  // planted projection order are pinned in SimilarityPipelineSpec.
  val q202: QuerySpec = QuerySpec(
    "q202_pca_project",
    (s, d) =>
      SimilarityPipeline
        .pcaProjectFp(embeddings(s, d), iters = 8)
        .orderBy("vec_id"),
    Some(q202OracleSql(iters = 8)),
  )

  // ---------------------------------------------------------------------
  // q201 — FORWARD as-of join: each click looks up the user's NEXT
  // purchase at-or-after its timestamp, with the wait time — the
  // time-to-conversion lookup that q47's backward form cannot answer
  // (and a windowed-join shape Structured Streaming cannot do without
  // buffering the future; batch owns it). Same union-tag machinery,
  // one shuffle, timestamps scanned descending so the running
  // last(ignoreNulls) is the earliest at-or-after match. Oracle:
  // DuckDB's native ASOF with the inequality flipped (a.ts <= b.ts),
  // which pins the nearest-forward + inclusivity semantics exactly.
  val q201: QuerySpec = QuerySpec(
    "q201_asof_forward",
    (s, d) => {
      val ev = events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          unix_micros(col("ts").cast("timestamp")).as("purchase_us"),
          round(col("value"), 4).as("purchase_value"))
      graft.ops.AsOf.asOfJoin(
        clicks, purchases,
        keys = Seq("user_id"), tsCol = "ts_us",
        rightValueCols = Seq("purchase_us", "purchase_value"),
        rightTieBreak = Some("purchase_id"),
        forward = true)
        .select(
          col("event_id"), col("user_id"), col("ts_us"),
          col("purchase_us"),
          (col("purchase_us") - col("ts_us")).as("wait_us"),
          col("purchase_value"))
        .orderBy("event_id")
    },
    Some(
      "WITH a AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'), " +
        "b AS (SELECT user_id, epoch_us(ts) AS purchase_us, round(value, 4) AS purchase_value " +
        "FROM events WHERE event_type = 'purchase') " +
        "SELECT a.event_id, a.user_id, a.ts_us, b.purchase_us, " +
        "b.purchase_us - a.ts_us AS wait_us, b.purchase_value " +
        "FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND a.ts_us <= b.purchase_us " +
        "ORDER BY a.event_id"
    ),
  )

  // q217 — hard-negative mining for contrastive training: per anchor
  // vector, the top-2 most-similar vectors in the SIMILAR-BUT-NOT-
  // DUPLICATE cosine band [0.2, 0.6) — the pairs a bi-encoder learns
  // the most from (true negatives that look like positives). Built on
  // the q38 machinery: sign-LSH cells + hamming-≤1 multiprobe generate
  // candidates linear in N, exact cosine verifies, the band filter
  // excludes dup pairs (≥ 0.6 belongs to the dedup path, q38) and
  // random pairs (< 0.2 are easy negatives — free from sampling, not
  // worth a join). Candidate pairs mirror to both directions so every
  // anchor ranks its own negatives; per-anchor state is 2 rows.
  //
  // Oracle-checked since round 8 (was float-banded/rows-only): the
  // registered run rides the portable quantizer
  // ([[SimilarityPipeline.annHardNegativesPortable]]) with BOTH band
  // bounds cross-multiplied into exact integer tests
  // (cos ≥ 1/5 ⟺ d ≥ 0 ∧ 25·d² ≥ nₐ·n_b; cos < 3/5 ⟺ 25·d² < 9·nₐ·n_b
  // on the survivors, where d ≥ 0 already holds) and the per-anchor
  // top-2 ranked by q29's integer key against the negative's norm — so
  // candidates, band membership, AND ranking hash-match the DuckDB
  // oracle. Band membership and the per-anchor rank contract are
  // pinned against float cosine in SimilarityPipelineSpec.
  val q217: QuerySpec = QuerySpec(
    "q217_hard_negative_mining",
    (s, d) => {
      val emb = embeddings(s, d)
      val bits = SimilarityPipeline.cellBits(graft.ops.CorpusStats.tableRows(s, d, "embeddings"))
      SimilarityPipeline
        .annHardNegativesPortable(emb, k = 2, loNum = 1, loDen = 5, hiNum = 3, hiDen = 5, bits = bits)
        .orderBy("anchor_id", "rank")
    },
    Some(
      s"WITH $portableCellsCteSql, " +
        bandCandCteSql("cells", "cand") +
        scoredCteSql("verified", "va, vb", "cand", "fp", ("va", "vb"), ("fa", "fb")) + ", " +
        s"band AS (SELECT * FROM verified WHERE ${cosInBandSql(1, 5, 3, 5)}), " +
        mirroredTopKSql(k = 2)
    ),
  )

  // q258 — CAPPED hard-negative mining (r9): q217 with the candidate
  // stage bounded per anchor. The 256× probe showed q217 going
  // output-proportional when the negative band sits in the BULK of
  // the cosine distribution (the rotation-decorrelated replica — true
  // band mass quadratic); this registers the production lever: per
  // anchor, only the first `cap` banded candidates in a portable
  // md5-hash order (unbiased, deterministic, replayable) are ever
  // exact-scored, so scoring/banding/ranking run on ≤ N·cap rows BY
  // CONTRACT however dense the band — the deliberate recall trade a
  // contrastive-training pipeline makes (it needs SOME hard negatives
  // per anchor, never ALL of them). With cap ≥ the true fan-in the
  // output EQUALS q217's (spec-pinned); the oracle replays the cap,
  // the band, and the ranking exactly.
  val q258: QuerySpec = QuerySpec(
    "q258_hard_negatives_capped",
    (s, d) => {
      val emb = embeddings(s, d)
      val bits = SimilarityPipeline.cellBits(graft.ops.CorpusStats.tableRows(s, d, "embeddings"))
      SimilarityPipeline
        .annHardNegativesCapped(emb, k = 2, loNum = 1, loDen = 5, hiNum = 3, hiDen = 5,
          bits = bits, cap = 32)
        .orderBy("anchor_id", "rank")
    },
    Some(
      s"WITH $portableCellsCteSql, " +
        bandedCteSql("cells") +
        "candd AS (SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS negative_id " +
        "FROM banded a JOIN banded b ON a.m = b.m AND a.key = b.key AND a.vec_id <> b.vec_id), " +
        "capped AS (SELECT anchor_id, negative_id FROM (SELECT anchor_id, negative_id, " +
        "row_number() OVER (PARTITION BY anchor_id ORDER BY " +
        "md5('hn|' || CAST(anchor_id AS VARCHAR) || '|' || CAST(negative_id AS VARCHAR)), negative_id) AS rn " +
        "FROM candd) WHERE rn <= 32), " +
        scoredCteSql("scored", "anchor_id, negative_id", "capped", "fp",
          ("anchor_id", "negative_id"), ("fa", "fb")) + ", " +
        s"band AS (SELECT * FROM scored WHERE ${cosInBandSql(1, 5, 3, 5)}), " +
        "keyed AS (SELECT anchor_id, negative_id, dot_fp, " +
        "(CAST(dot_fp AS HUGEINT) * dot_fp * 10000) // nb2 AS rank_fp, " +
        s"$cos2BpSql " +
        "FROM band), " +
        hardNegativeTopKSql(k = 2)
    ),
  )

  // q259 — SEMANTIC dedup (r9): the SemDeDup recipe (cluster the
  // embedding corpus, drop within-cluster pairs above a cosine
  // threshold) as the semantic-axis member of the dedup family —
  // q25 exact / q30 MinHash-lexical / q38 embedding-LSH / q252 pixel
  // / THIS: embedding-cluster. Blocking is q42's fixed-point k-means
  // (the IVF cells double as SemDeDup clusters — one clustering pays
  // for both the ANN index and the dedup pass), the decision is the
  // keep-first rule (drop v iff a lower-id cluster-mate sits at
  // cos ≥ 3/10, witness = the minimal such mate), and every step —
  // Lloyd rounds, assignment, the cross-multiplied threshold, the
  // min-witness pick — is exact int64, so the oracle replays the whole
  // pipeline (clustering INCLUDED) via the shared kmeans CTE chain.
  // Intra-cell pairs only: Σ|cell|²/2 ≈ n^1.5 at q42's cell sizing,
  // with the published 100 TB lever (cells ∝ n ⇒ constant cluster
  // size ⇒ linear pair work) documented on the operator.
  val q259: QuerySpec = QuerySpec(
    "q259_semantic_dedup",
    (s, d) => {
      val emb = embeddings(s, d)
      val cells = math.max(2L, graft.ops.Exact.isqrtLong(graft.ops.CorpusStats.tableRows(s, d, "embeddings")) / 2).toInt
      SimilarityPipeline
        .semanticDedupFp(emb, cells = cells, tNum = 3, tDen = 10, iters = 2)
        .orderBy("vec_id")
    },
    Some(
      s"WITH ${kmeansAssignCteSql(iters = 2, centScale = 1000000L)}, " +
        semanticDropsSql
    ),
  )

  // q260 — SEMANTIC decontamination (r9): benchmark leakage by
  // embedding similarity — the decontamination family's missing axis.
  // q75/q117/q149/q188/q208 test n-gram overlap, which PARAPHRASED
  // eval leakage defeats by construction; this flags every training
  // vector with a benchmark cluster-mate at cos ≥ 3/10, using q259's
  // machinery verbatim (one fixed-point k-means over the union —
  // train and bench share cells, which is what makes the cross-frame
  // comparison intra-cell and the pair work bounded), and emits the
  // drop manifest a decontamination pass ships: flagged vec_id,
  // minimal benchmark witness, cell, exact cos2_bp. The benchmark
  // subset is the declared vec_id % 20 = 0 frame (q75's style: the
  // "held-out eval" derives from the same table by a stated rule).
  // The oracle replays clustering, assignment, the cross-multiplied
  // threshold and the min-witness pick over exact integers.
  val q260: QuerySpec = QuerySpec(
    "q260_semantic_decontam",
    (s, d) => {
      val emb = embeddings(s, d)
      val cells = math.max(2L, graft.ops.Exact.isqrtLong(graft.ops.CorpusStats.tableRows(s, d, "embeddings")) / 2).toInt
      SimilarityPipeline
        .semanticDecontamFp(emb, isBench = col("vec_id") % 20 === 0,
          cells = cells, tNum = 3, tDen = 10, iters = 2)
        .orderBy("vec_id")
    },
    Some(
      s"WITH ${kmeansAssignCteSql(iters = 2, centScale = 1000000L)}, " +
        semanticHitsSql(("tr", "vec_id % 20 <> 0", "t"), ("bm", "vec_id % 20 = 0"), "bench_witness")
    ),
  )

  /** One IVF-probed Lloyd round as CTEs: fine centroids pick their
    * coarse cell (`fg`), points pick their best LIVE coarse cell
    * (`pg`), the assignment argmax runs only over the coarse cell's
    * fine members (`d`/`a` — the blocked probe), then the exact
    * q42RoundCtes mean/normalize update. Mirrors
    * [[SimilarityPipeline.ivfAssignCellsFp]] op for op.
    */
  private def ivfRoundCtes(t: Int, prev: String, centScale: Long, src: String = "fp"): String =
    s"fgd$t AS (SELECT c.cell, g.gcell, " +
      "CAST(list_sum(list_transform(generate_series(1, len(c.cent)), i -> c.cent[i] * g.gcent[i])) AS BIGINT) AS dot " +
      s"FROM $prev c CROSS JOIN g0 g), " +
      s"fg$t AS MATERIALIZED (SELECT cell, gcell FROM (SELECT cell, gcell, " +
      s"row_number() OVER (PARTITION BY cell ORDER BY dot DESC, gcell ASC) AS rn FROM fgd$t) WHERE rn = 1), " +
      s"pgd$t AS (SELECT f.vec_id, g.gcell, " +
      "CAST(list_sum(list_transform(generate_series(1, len(f.q)), i -> f.q[i] * g.gcent[i])) AS BIGINT) AS dot " +
      s"FROM $src f CROSS JOIN g0 g WHERE g.gcell IN (SELECT DISTINCT gcell FROM fg$t)), " +
      s"pg$t AS (SELECT vec_id, gcell FROM (SELECT vec_id, gcell, " +
      s"row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, gcell ASC) AS rn FROM pgd$t) WHERE rn = 1), " +
      s"d$t AS (SELECT f.vec_id, c.cell, " +
      "CAST(list_sum(list_transform(generate_series(1, len(f.q)), i -> f.q[i] * c.cent[i])) AS BIGINT) AS dot " +
      s"FROM $src f JOIN pg$t p ON p.vec_id = f.vec_id " +
      s"JOIN fg$t x ON x.gcell = p.gcell JOIN $prev c ON c.cell = x.cell), " +
      s"a$t AS MATERIALIZED (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
      s"row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell ASC) AS rn FROM d$t) WHERE rn = 1), " +
      lloydUpdateCtes(t, src, centScale)

  /** The scaled (cells ∝ n, IVF-probed) clustering chain: quantize →
    * cells = max(2, n div targetCell) fine seeds + isqrt(cells) coarse
    * seeds → `iters` probed Lloyd rounds → probed final assignment.
    * Yields `fp` and `af` — [[ivfAssignCteSql]] is to q261/q262 what
    * [[kmeansAssignCteSql]] is to q42/q259/q260.
    */
  private def ivfAssignCteSql(
      iters: Int, targetCell: Int, centScale: Long,
      clusterWhere: Option[String] = None): String = {
    // clusterWhere restricts the CLUSTERING SOURCE (seeds, Lloyd
    // rounds, sizing) to a sub-frame — the q265 incremental mode,
    // where the index is built over the base corpus only; the final
    // `af` assignment always covers the FULL fp (frozen-probe
    // assignment of base and incoming alike)
    val src = if (clusterWhere.isDefined) "fpb" else "fp"
    val fpb = clusterWhere
      .map(w => s"fpb AS MATERIALIZED (SELECT vec_id, q FROM fp WHERE $w), ")
      .getOrElse("")
    val rounds = (1 to iters).map(t =>
      ivfRoundCtes(t, if (t == 1) "c0" else s"c${t - 1}", centScale, src))
    val fin = iters + 1
    quantizedCteSql("fp", materialized = true) + ", " +
      fpb +
      s"cs AS (SELECT GREATEST(2, n // $targetCell) AS c FROM (SELECT count(*) AS n FROM $src)), " +
      s"gs AS (SELECT GREATEST(1, ${graft.ops.Exact.isqrtSql("c")}) AS g FROM cs), " +
      "g0 AS MATERIALIZED (SELECT s.rn - 1 AS gcell, s.q AS gcent FROM " +
      s"(SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) AS rn FROM $src) s, gs WHERE s.rn <= gs.g), " +
      "c0 AS MATERIALIZED (SELECT s.rn - 1 AS cell, s.q AS cent FROM " +
      s"(SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) AS rn FROM $src) s, cs WHERE s.rn <= cs.c), " +
      rounds.mkString("", ", ", ", ") +
      s"fgd$fin AS (SELECT c.cell, g.gcell, " +
      "CAST(list_sum(list_transform(generate_series(1, len(c.cent)), i -> c.cent[i] * g.gcent[i])) AS BIGINT) AS dot " +
      s"FROM c$iters c CROSS JOIN g0 g), " +
      s"fg$fin AS (SELECT cell, gcell FROM (SELECT cell, gcell, " +
      s"row_number() OVER (PARTITION BY cell ORDER BY dot DESC, gcell ASC) AS rn FROM fgd$fin) WHERE rn = 1), " +
      s"pgd$fin AS (SELECT f.vec_id, g.gcell, " +
      "CAST(list_sum(list_transform(generate_series(1, len(f.q)), i -> f.q[i] * g.gcent[i])) AS BIGINT) AS dot " +
      s"FROM fp f CROSS JOIN g0 g WHERE g.gcell IN (SELECT DISTINCT gcell FROM fg$fin)), " +
      s"pg$fin AS (SELECT vec_id, gcell FROM (SELECT vec_id, gcell, " +
      s"row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, gcell ASC) AS rn FROM pgd$fin) WHERE rn = 1), " +
      s"d$fin AS (SELECT f.vec_id, c.cell, " +
      "CAST(list_sum(list_transform(generate_series(1, len(f.q)), i -> f.q[i] * c.cent[i])) AS BIGINT) AS dot " +
      s"FROM fp f JOIN pg$fin p ON p.vec_id = f.vec_id " +
      s"JOIN fg$fin x ON x.gcell = p.gcell JOIN c$iters c ON c.cell = x.cell), " +
      s"af AS MATERIALIZED (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
      s"row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell ASC) AS rn FROM d$fin) WHERE rn = 1)"
  }

  // q261 — q259's SemDeDup at the 100 TB shape: cells ∝ n (constant
  // expected cluster size ⇒ LINEAR intra-cell pair work instead of
  // q259's n^1.5) and every assignment routed through a fixed coarse
  // quantizer of isqrt(cells) centroids — each point dots against
  // √cells coarse cells, then only against ITS coarse cell's fine
  // members (n·2√cells assignment dots instead of the dense n·cells;
  // the construction nests for deeper hierarchies). The drop decision
  // — intra-cell pairs, the cross-multiplied 3/10 threshold with the
  // zero-vector guard, the min-witness pick — is byte-identical to
  // q259 (shared semanticDupDrops path), and every step including the
  // probed clustering replays in the DuckDB oracle.
  val q261: QuerySpec = QuerySpec(
    "q261_semantic_dedup_scaled",
    (s, d) =>
      SimilarityPipeline
        .semanticDedupFpScaled(embeddings(s, d), tNum = 3, tDen = 10,
          targetCell = 32, iters = 2,
          knownRows = Some(graft.ops.CorpusStats.tableRows(s, d, "embeddings")))
        .orderBy("vec_id"),
    Some(
      s"WITH ${ivfAssignCteSql(iters = 2, targetCell = 32, centScale = 1000000L)}, " +
        semanticDropsSql
    ),
  )

  // q262 — q260's semantic decontamination under the same scaled
  // geometry: one cells-∝-n probed clustering over the union, bench
  // membership by the declared vec_id % 20 = 0 rule, train×bench
  // pairs within a cell only — the drop-manifest semantics unchanged
  // (shared semanticDecontamHits path).
  val q262: QuerySpec = QuerySpec(
    "q262_semantic_decontam_scaled",
    (s, d) =>
      SimilarityPipeline
        .semanticDecontamFpScaled(embeddings(s, d), isBench = col("vec_id") % 20 === 0,
          tNum = 3, tDen = 10, targetCell = 32, iters = 2,
          knownRows = Some(graft.ops.CorpusStats.tableRows(s, d, "embeddings")))
        .orderBy("vec_id"),
    Some(
      s"WITH ${ivfAssignCteSql(iters = 2, targetCell = 32, centScale = 1000000L)}, " +
        semanticHitsSql(("tr", "vec_id % 20 <> 0", "t"), ("bm", "vec_id % 20 = 0"), "bench_witness")
    ),
  )

  // q263 — hard-negative mining at the 100 TB shape (r10): q217's job
  // with candidates blocked by q261's cells-∝-n probed clustering
  // instead of the sign-LSH band join. The IVF index a retrieval
  // system already maintains doubles as the negative sampler —
  // cluster-mates ARE the near-but-not-identical pool contrastive
  // training wants — and the geometry bounds the work with no cap:
  // intra-cell pairs ≈ n·targetCell/2 (LINEAR at constant expected
  // cluster size), and cell membership is unique, so the candidate
  // pair set needs NO distinct — the dedup exchange that dominates
  // the banded forms' stage traces does not exist in this plan.
  // Recall trades the IVF way (band members in foreign cells are
  // unseen) — q258's deliberate trade expressed through blocking
  // geometry instead of md5-order truncation. Scoring, the
  // cross-multiplied band [1/5, 3/5), the mirror, and the per-anchor
  // top-2 ranking are q217's byte for byte; the oracle replays the
  // probed clustering AND the mining.
  val q263: QuerySpec = QuerySpec(
    "q263_hard_negatives_scaled",
    (s, d) =>
      SimilarityPipeline
        .annHardNegativesScaled(embeddings(s, d), k = 2, loNum = 1, loDen = 5,
          hiNum = 3, hiDen = 5, targetCell = 32, iters = 2,
          knownRows = Some(graft.ops.CorpusStats.tableRows(s, d, "embeddings")))
        .orderBy("anchor_id", "rank"),
    Some(
      s"WITH ${ivfAssignCteSql(iters = 2, targetCell = 32, centScale = 1000000L)}, " +
        "pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb " +
        "FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id), " +
        scoredCteSql("scored", "va, vb", "pairs", "fp", ("va", "vb"), ("fa", "fb")) + ", " +
        s"band AS (SELECT * FROM scored WHERE ${cosInBandSql(1, 5, 3, 5)}), " +
        mirroredTopKSql(k = 2)
    ),
  )

  // q264 — IVF top-k search at the 100 TB shape (r10): q42's job under
  // q261's cells-∝-n probed index, with the QUERY path descending the
  // same two-level quantizer. q42 ranks each query against ALL cells
  // (n_q·cells dots — the dense assignment cost all over again once
  // cells ∝ n); here a query dots √cells coarse centroids, descends
  // into its best live coarse cell, ranks that cell's ~√cells fine
  // members, probes its nprobe best — 2·√cells dots per query and a
  // CONSTANT nprobe·targetCell candidate scan (vs the flat form's
  // √n-sized cells). This closes the scaled-geometry family: q261
  // dedups on the index, q262 decontaminates, q263 mines negatives,
  // q264 SEARCHES it — one clustering shape serving all four. Every
  // argmax/probe/rank decision exact int64; the oracle replays index
  // build and probed search end to end.
  val q264: QuerySpec = QuerySpec(
    "q264_ann_topk_scaled",
    (s, d) => {
      val emb = embeddings(s, d)
      SimilarityPipeline
        .ivfTopKScaled(emb, emb.where(col("vec_id") < 5), k = 3,
          targetCell = 32, iters = 2, nprobe = 2,
          knownRows = Some(graft.ops.CorpusStats.tableRows(s, d, "embeddings")))
        .orderBy("query_id", "vec_id")
    },
    Some(
      s"WITH ${ivfAssignCteSql(iters = 2, targetCell = 32, centScale = 1000000L)}, " +
        "qgd AS (SELECT s.vec_id AS query_id, s.q AS qq, g.gcell, " +
        "CAST(list_sum(list_transform(generate_series(1, len(s.q)), i -> s.q[i] * g.gcent[i])) AS BIGINT) AS dot " +
        "FROM fp s CROSS JOIN g0 g WHERE s.vec_id < 5 " +
        "AND g.gcell IN (SELECT DISTINCT gcell FROM fg3)), " +
        "qg AS (SELECT query_id, qq, gcell FROM (SELECT query_id, qq, gcell, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, gcell ASC) AS rn FROM qgd) WHERE rn = 1), " +
        "qd AS (SELECT q.query_id, q.qq, x.cell, " +
        "CAST(list_sum(list_transform(generate_series(1, len(q.qq)), i -> q.qq[i] * c.cent[i])) AS BIGINT) AS dot " +
        "FROM qg q JOIN fg3 x ON x.gcell = q.gcell JOIN c2 c ON c.cell = x.cell), " +
        probeAndRankSql("query_id, qq, cell", nprobe = 2, k = 3)
    ),
  )

  // q265 — INCREMENTAL semantic dedup (r10): q88's batch-vs-base
  // operating mode at the semantic axis, under the scaled geometry.
  // The clustering builds over the BASE frame only (vec_id % 4 <> 0 —
  // the frozen index a production corpus already maintains, sized on
  // the base count), the FULL frame assigns through the frozen
  // two-level probe (q264's query path applied to ingest), and pairs
  // are INCOMING × BASE within a cell only — base×base never
  // materializes (it was deduped when it WAS incoming, q88's
  // argument), incoming×incoming is the next batch's base×base.
  // Emits the drop manifest per flagged incoming vector with its
  // minimal base witness. Every decision exact int64; the oracle
  // replays base-only clustering, frozen-probe assignment, and the
  // hit rule.
  val q265: QuerySpec = QuerySpec(
    "q265_semantic_dedup_incremental",
    (s, d) =>
      SimilarityPipeline
        .semanticDedupIncrementalFp(embeddings(s, d),
          isIncoming = col("vec_id") % 4 === 0,
          tNum = 3, tDen = 10, targetCell = 32, iters = 2)
        .orderBy("vec_id"),
    Some(
      s"WITH ${ivfAssignCteSql(iters = 2, targetCell = 32, centScale = 1000000L, clusterWhere = Some("vec_id % 4 <> 0"))}, " +
        semanticHitsSql(("inc", "vec_id % 4 = 0", "i"), ("bs", "vec_id % 4 <> 0"), "base_witness")
    ),
  )

  /** The full q224 oracle: raw fp + exact-isqrt normalization +
    * [[pcaAxesCtes]] on the NORMALIZED corpus + fp projections → grid
    * cells (inlined [[SimilarityPipeline.gridWidthFp]] width) →
    * integer histogram decision → BOTH branches (grid 3×3 probe /
    * renamed portable sign-LSH chain, both verified by the same
    * cross-multiplied test on raw fp) → the decision picks. Replays
    * [[SimilarityPipeline.adaptiveNearDupPairsFp]] verbatim, INCLUDING
    * the physical-strategy choice.
    */
  private def q224OracleSql(iters: Int, tNum: Int, tDen: Int, budgetFactor: Int): String = {
    val w = SimilarityPipeline.gridWidthFp(tNum, tDen)
    s"WITH ${quantizedCteSql("fpr", materialized = true)}, " +
      s"nr AS (SELECT vec_id, ${graft.ops.Exact.isqrtSql("n2")} AS r " +
      "FROM (SELECT vec_id, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM fpr)), " +
      "fp AS MATERIALIZED (SELECT f.vec_id, list_transform(f.q, " +
      s"x -> CASE WHEN r = 0 THEN x WHEN x < 0 THEN -((-x) * $Q29Scale // r) " +
      s"ELSE (x * $Q29Scale) // r END) AS q FROM fpr f JOIN nr ON nr.vec_id = f.vec_id), " +
      pcaAxesCtes(iters) + ", " +
      // fp projections → downscale to p'-scale 1e6 → floor-div cells
      "pj AS (SELECT c.vec_id, CAST(sum(c.x * a1.v) AS BIGINT) AS p1, " +
      "CAST(sum(c.x * a2.v) AS BIGINT) AS p2 " +
      "FROM ce c JOIN a1f a1 ON a1.i = c.i JOIN a2f a2 ON a2.i = c.i GROUP BY 1), " +
      "pd AS (SELECT vec_id, " +
      "CASE WHEN p1 < 0 THEN -((-p1) // 10000000) ELSE p1 // 10000000 END AS d1, " +
      "CASE WHEN p2 < 0 THEN -((-p2) // 10000000) ELSE p2 // 10000000 END AS d2 FROM pj), " +
      "cl AS MATERIALIZED (SELECT vec_id, " +
      s"CASE WHEN d1 >= 0 THEN d1 // $w ELSE -(((-d1) + $w - 1) // $w) END AS cx, " +
      s"CASE WHEN d2 >= 0 THEN d2 // $w ELSE -(((-d2) + $w - 1) // $w) END AS cy FROM pd), " +
      "hist AS (SELECT cx, cy, count(*) AS hn FROM cl GROUP BY 1, 2), " +
      "nv AS (SELECT count(*) AS n FROM cl), " +
      "imp AS (SELECT (coalesce((SELECT sum(a.hn * b.hn) FROM hist a JOIN hist b " +
      "ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1), 0) - n) // 2 " +
      s"<= $budgetFactor * n AS grid_ok FROM nv), " +
      // grid branch: 3×3 probe equijoin + exact verify on raw fp
      "gprobe AS (SELECT vec_id, cx + dx AS cx, cy + dy AS cy FROM cl, " +
      "(SELECT unnest(generate_series(-1, 1)) AS dx), " +
      "(SELECT unnest(generate_series(-1, 1)) AS dy)), " +
      "gcand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb FROM gprobe a " +
      "JOIN cl b ON a.cx = b.cx AND a.cy = b.cy AND a.vec_id < b.vec_id), " +
      scoredCteSql("gver", "va, vb", "gcand", "fpr", ("va", "vb"), ("fa", "fb")) + ", " +
      s"gout AS (SELECT va, vb, dot_fp, $cos2BpSql " +
      s"FROM gver WHERE ${cosAtLeastSql(tNum, tDen)}), " +
      // fallback branch: the q38 portable chain, renamed onto fpr
      bitsPlanesCteSql + signCellsCteSql("fpr", "el2", "cells2") + ", " +
      bandCandCteSql("cells2", "lcand") +
      scoredCteSql("lver", "va, vb", "lcand", "fpr", ("va", "vb"), ("fa", "fb")) + ", " +
      s"lout AS (SELECT va, vb, dot_fp, $cos2BpSql " +
      s"FROM lver WHERE ${cosAtLeastSql(tNum, tDen)}) " +
      // the replayed DECISION picks the branch
      "SELECT va, vb, dot_fp, cos2_bp FROM gout WHERE (SELECT grid_ok FROM imp) " +
      "UNION ALL SELECT va, vb, dot_fp, cos2_bp FROM lout WHERE NOT (SELECT grid_ok FROM imp) " +
      "ORDER BY va, vb"
  }

  // q224 — semantic near-dup pairs via LOSSLESS PCA-grid blocking:
  // reduce (normalized) embeddings to the learned top-2 axes (q202's
  // machinery), grid-bucket at cell width √(2(1−t)), probe the 3×3
  // neighborhood, verify exact full-space cosine. Projection CONTRACTS
  // distance, so every qualifying pair meets within one cell offset —
  // recall 1.0 by construction (vs q38's probabilistic sign-LSH
  // recall). Round 6 registered the grid UNCONDITIONALLY at a
  // degenerate t = 0.4 and measured 9.7× at a 16× corpus — the plan
  // that dies at 100×. Round 7 measured WHY and fixed the operator
  // rather than just the operating point: grid thinning requires the
  // top-2 axes to carry real variance, and THIS synthetic corpus is
  // isotropic (λ₁ ≈ λ₂ ≈ 0.02, projections within ±0.5), where NO
  // lossless metric filter — projection, pivot, or bounding-box —
  // prunes anything at any useful threshold (distance concentration).
  // So the registered operator is the ADAPTIVE cascade
  // (`adaptiveNearDupPairsFp`): plan the physical strategy from data
  // statistics, AQE-style — compute the grid cell histogram (tiny,
  // linear), take the LOSSLESS grid when it implies ≤ budget·N
  // candidates (anisotropic / clustered corpora — which near-dup-rich
  // corpora are), else fall back to the linear sign-LSH generator with
  // exact verification (the documented probabilistic-recall trade).
  // On this corpus: fallback branch, whose honest answer at the
  // production threshold t = 0.8 is zero pairs (max inter-vector
  // cosine < 0.6, measured) — spec-pinned against brute force.
  // Sub-7/9 thresholds fail the geometry rail loudly. Axis 2 is
  // deflated against axis 1 every round, so the contraction guarantee
  // holds for any iteration count (within the documented 2e-6 quantum).
  //
  // Oracle-checked since round 9 (was rows-only): the registered run
  // is the FIXED-POINT adaptive cascade
  // (SimilarityPipeline.adaptiveNearDupPairsFp) — exact-isqrt
  // normalization, the q202 fixed-point axes, integer projections and
  // grid cells (CEILING width + documented safety margin preserves the
  // contraction-losslessness direction under the fixed-point error
  // budget), an integer cell-histogram decision, and the t = 4/5
  // threshold cross-multiplied on BOTH branches — so the oracle
  // replays the whole operator INCLUDING its physical-strategy choice
  // (on this isotropic corpus: the sign-LSH branch, whose honest
  // answer at t = 4/5 is empty — the oracle computes the same branch
  // and the same empty set). Planted-pair recall, branch choice, the
  // rail boundary, the rank-deficient corpus, and corpus emptiness
  // against brute force are pinned in SimilarityPipelineSpec.
  val q224: QuerySpec = QuerySpec(
    "q224_pca_grid_near_dup",
    (s, d) =>
      SimilarityPipeline
        .adaptiveNearDupPairsFp(embeddings(s, d), tNum = 4, tDen = 5, iters = 6,
          knownRows = Some(graft.ops.CorpusStats.tableRows(s, d, "embeddings")))
        .orderBy("va", "vb"),
    Some(q224OracleSql(iters = 6, tNum = 4, tDen = 5, budgetFactor = 8)),
  )

  // q218 — int8-quantization recall audit: quantize every embedding to
  // int8 with per-dimension symmetric scales (q_i = round(127·x_i/s_i),
  // s_i = corpus max|x_i|), rank by exact INTEGER dot product, and
  // report per query how many of the float-dot top-10 the quantized
  // top-10 recovers — the acceptance gate run before shipping a
  // compressed ANN index (4× smaller vectors, integer SIMD kernels).
  //
  // Scale: the scale vector is d rows of state (one maxabs aggregate,
  // broadcast back as a 1-row anchor — the q79 idiom); quantization is
  // one codegen'd transform over the corpus; both rankings reuse the
  // brute-force top-k shape (broadcast queries, per-partition heaps).
  // At 100 TB the float ranking runs on a SAMPLE of queries (it exists
  // only to audit the int index) — the corpus-sized artifact is the
  // int8 index alone.
  //
  // Oracle-checked since round 8 (was rows-only): the audit's
  // reference ranking is now the q29 fixed-point dot (exact int64;
  // monotone with the float ranking at 1e-7 quantization), and the
  // int8 side was ALWAYS integer — the quantization itself is one
  // round(double(x)/double(s)·127) per element, every step a single
  // correctly-rounded IEEE op reproduced verbatim in the oracle — so
  // both rankings, and therefore the recall counts, hash-match DuckDB.
  // SimilaritySpec still pins quantizer exactness (|q| ≤ 127, sign
  // preservation) and recall@10 = 10 on a scale-separated fixture.
  val q218: QuerySpec = QuerySpec(
    "q218_int8_recall_audit",
    (s, d) => {
      val emb = embeddings(s, d)
      val scales = emb
        .select(posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("i").agg(max(abs(col("x"))).as("m"))
        .agg(expr("transform(array_sort(collect_list(struct(i, m))), s -> greatest(s.m, CAST(1e-12 AS FLOAT)))").as("scales"))
      val quant = emb.join(broadcast(scales))
        .select(col("vec_id"),
          col("embedding"),
          expr("transform(embedding, (x, i) -> CAST(round(x / element_at(scales, i + 1) * 127.0) AS INT))").as("q"))
      val queries = quant.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("f_emb"), col("q").as("q_emb"))
      // BOTH rankings in one candidate pass: the two windows share the
      // query_id partitioning, so the plan is one corpus scan, one
      // exchange, two partition-local sorts — no self-join, nothing
      // computed twice. Recall@10 = rows ranked ≤10 under BOTH orders.
      val scored = quant.join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          VF.dotFp(col("embedding"), col("f_emb"), Q29Scale).as("fs"),
          expr("aggregate(zip_with(q, q_emb, (x, y) -> CAST(x AS BIGINT) * y), CAST(0 AS BIGINT), (a, v) -> a + v)").as("is"))
      val wF = Window.partitionBy("query_id").orderBy(desc("fs"), asc("vec_id"))
      val wI = Window.partitionBy("query_id").orderBy(desc("is"), asc("vec_id"))
      scored
        .withColumn("rf", row_number().over(wF))
        .withColumn("ri", row_number().over(wI))
        .groupBy("query_id")
        .agg(count(when(col("rf") <= 10 && col("ri") <= 10, 1)).as("n_recovered"))
        .select(col("query_id"), col("n_recovered"), lit(10L).as("k"))
        .orderBy("query_id")
    },
    Some(
      "WITH el AS (SELECT vec_id, i-1 AS i, embedding[i] AS x " +
        "FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t), " +
        "s AS (SELECT i, greatest(max(abs(x)), CAST(1e-12 AS FLOAT)) AS m FROM el GROUP BY i), " +
        "qel AS (SELECT e.vec_id, e.i, " +
        "CAST(round(CAST(e.x AS DOUBLE) / CAST(s.m AS DOUBLE) * 127.0) AS INT) AS q, " +
        s"CAST(round(CAST(e.x AS DOUBLE) * $Q29Scale) AS BIGINT) AS fx " +
        "FROM el e JOIN s ON s.i = e.i), " +
        "queries AS (SELECT vec_id AS query_id, i, q AS qq, fx AS qfx FROM qel WHERE vec_id < 10), " +
        "scored AS (SELECT qu.query_id, c.vec_id, " +
        "CAST(sum(CAST(c.q AS BIGINT) * qu.qq) AS BIGINT) AS iscore, " +
        "CAST(sum(c.fx * qu.qfx) AS BIGINT) AS fscore " +
        "FROM qel c JOIN queries qu ON qu.i = c.i AND c.vec_id <> qu.query_id GROUP BY 1, 2), " +
        "ranked AS (SELECT query_id, vec_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY fscore DESC, vec_id) AS rf, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY iscore DESC, vec_id) AS ri " +
        "FROM scored) " +
        "SELECT query_id, count(CASE WHEN rf <= 10 AND ri <= 10 THEN 1 END) AS n_recovered, " +
        "CAST(10 AS BIGINT) AS k FROM ranked GROUP BY 1 ORDER BY query_id"
    ),
  )

  // ---------------------------------------------------------------------
  // q228 — deterministic stratified eval-holdout sample: per (source,
  // lang) stratum, the k=3 documents with the SMALLEST portable md5
  // hash of their id — the fixed-budget eval-set carve every training
  // run needs, reproducible across engines, clusters and reruns
  // because the "random" order is a pure function of the id. Contrast
  // with the q65 hash-threshold split: threshold membership is stable
  // under corpus growth but the per-stratum COUNT floats; top-k-by-hash
  // pins the exact budget per stratum and accepts that a new smaller
  // hash can displace a member — the right trade for eval carving,
  // where the budget is the contract (document both, pick by need).
  //
  // Scale: stratum sizes are one map-side-combined aggregate over a
  // domain-bounded key (broadcast back); the ranking is one exchange on
  // the stratum key, and the rank ≤ k filter lets Spark 4 plan a
  // WindowGroupLimit — each map task keeps a bounded per-stratum heap
  // BEFORE the shuffle, so the exchange carries ~k rows per (task,
  // stratum), not the corpus.
  val q228: QuerySpec = QuerySpec(
    "q228_eval_holdout_sample",
    (s, d) => {
      val base = documents(s, d).select(col("source"), col("lang"), col("doc_id"))
      val sizes = base.groupBy("source", "lang").agg(count(lit(1)).as("stratum_docs"))
      val w = Window.partitionBy("source", "lang")
        .orderBy(graft.functions.MinHash.portableHash60(col("doc_id").cast("string")).asc,
          col("doc_id").asc)
      base
        .withColumn("sample_rank", row_number().over(w))
        .where(col("sample_rank") <= 3)
        .join(broadcast(sizes), Seq("source", "lang"))
        .select(col("source"), col("lang"), col("sample_rank").cast(LongType).as("sample_rank"),
          col("doc_id"), col("stratum_docs"))
        .orderBy("source", "lang", "sample_rank")
    },
    Some(
      "WITH s AS (SELECT source, lang, doc_id, " +
        "row_number() OVER (PARTITION BY source, lang " +
        "ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS sample_rank, " +
        "count(*) OVER (PARTITION BY source, lang) AS stratum_docs FROM documents) " +
        "SELECT source, lang, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id, " +
        "CAST(stratum_docs AS BIGINT) AS stratum_docs " +
        "FROM s WHERE sample_rank <= 3 ORDER BY source, lang, sample_rank"
    ),
  )

  // ---------------------------------------------------------------------
  // q229 — quality-filter agreement (Fleiss' κ): three deterministic
  // raters vote pass/fail per document — r1 length (≥ 30 words), r2
  // stopword presence (count·10 ≥ words, i.e. ratio ≥ 0.1), r3 mean
  // word length in [3, 8] (char-sum cross-multiplied) — and per lang we
  // report Fleiss' kappa across the raters. The table a curation
  // pipeline reads before composing filters: κ ≈ 1 means the filters
  // are redundant, κ ≈ 0 means they gate independent failure modes.
  //
  // Determinism: every rater is an integer comparison (cross-multiplied
  // thresholds — no float ratios), and κ is evaluated in exact integer
  // arithmetic: with per-doc pass count p, A = Σ[p(p−1)+(3−p)(2−p)]
  // (each term even), Vp = Σp, Vf = 3n−Vp, P̄ = A/(6n), P̄e =
  // (Vp²+Vf²)/(9n²), κ = (3nA/2 − (Vp²+Vf²)) / (9n² − (Vp²+Vf²)) —
  // floored to bp with an explicit sign split (Spark `div` truncates
  // toward zero, DuckDB `//` floors: they agree only on non-negatives,
  // so |·| first, sign after — the negative-κ trap). Degenerate
  // unanimous stratum (denominator 0) reports κ = 10000 by convention
  // in both engines. DECIMAL(38,0)/HUGEINT carry Vp² past BIGINT at
  // warehouse row counts (the q147 rule).
  //
  // Scale: ONE conditional-aggregation scan over documents (the q226
  // discipline — a new rater = a new CASE column, never a scan);
  // output is |lang| rows.
  val q229: QuerySpec = QuerySpec(
    "q229_filter_agreement",
    (s, d) => {
      val big = DecimalType(38, 0)
      val toks = split(col("text"), " ")
      val nW = size(toks).cast(LongType)
      val stopCount = size(filter(toks,
        w => w.isin("the", "a", "of", "and", "to", "in", "is"))).cast(LongType)
      val charSum = aggregate(toks, lit(0L), (a, x) => a + length(x))
      val r1 = when(nW >= 30, 1L).otherwise(0L)
      val r2 = when(stopCount * 10 >= nW, 1L).otherwise(0L)
      val r3 = when(charSum >= nW * 3 && charSum <= nW * 8, 1L).otherwise(0L)
      val voted = documents(s, d).select(col("lang"),
        r1.as("r1"), r2.as("r2"), r3.as("r3"), (r1 + r2 + r3).as("p"))
      val g = voted.groupBy("lang").agg(
        count(lit(1)).cast(big).as("n"),
        sum("r1").as("pass_r1"), sum("r2").as("pass_r2"), sum("r3").as("pass_r3"),
        sum(col("p") * (col("p") - 1) + (lit(3) - col("p")) * (lit(2) - col("p")))
          .cast(big).as("a"),
        sum("p").cast(big).as("vp"))
      g.select(col("lang"), col("n").cast(LongType).as("n_docs"),
        col("pass_r1"), col("pass_r2"), col("pass_r3"),
        expr("CAST(10000 * a div (6 * n) AS BIGINT)").as("pbar_bp"),
        expr("CAST(10000 * (vp*vp + (3*n - vp)*(3*n - vp)) div (9*n*n) AS BIGINT)").as("pe_bp"),
        expr(
          "CAST(CASE WHEN 9*n*n - (vp*vp + (3*n - vp)*(3*n - vp)) = 0 THEN 10000 " +
            "WHEN 3*n*a div 2 >= vp*vp + (3*n - vp)*(3*n - vp) " +
            "THEN 10000 * (3*n*a div 2 - (vp*vp + (3*n - vp)*(3*n - vp))) " +
            "div (9*n*n - (vp*vp + (3*n - vp)*(3*n - vp))) " +
            "ELSE -(10000 * ((vp*vp + (3*n - vp)*(3*n - vp)) - 3*n*a div 2) " +
            "div (9*n*n - (vp*vp + (3*n - vp)*(3*n - vp)))) END AS BIGINT)").as("kappa_bp"))
        .orderBy("lang")
    },
    Some(
      "WITH r AS (SELECT lang, " +
        "CASE WHEN len(string_split(text, ' ')) >= 30 THEN 1 ELSE 0 END AS r1, " +
        "CASE WHEN len(list_filter(string_split(text, ' '), " +
        "w -> w IN ('the','a','of','and','to','in','is'))) * 10 >= len(string_split(text, ' ')) " +
        "THEN 1 ELSE 0 END AS r2, " +
        "CASE WHEN list_sum(list_transform(string_split(text, ' '), w -> length(w))) " +
        "BETWEEN 3 * len(string_split(text, ' ')) AND 8 * len(string_split(text, ' ')) " +
        "THEN 1 ELSE 0 END AS r3 FROM documents), " +
        "p AS (SELECT lang, r1, r2, r3, r1 + r2 + r3 AS p FROM r), " +
        "g AS (SELECT lang, CAST(count(*) AS HUGEINT) AS n, " +
        "CAST(sum(r1) AS BIGINT) AS pass_r1, CAST(sum(r2) AS BIGINT) AS pass_r2, " +
        "CAST(sum(r3) AS BIGINT) AS pass_r3, " +
        "CAST(sum(p*(p-1) + (3-p)*(2-p)) AS HUGEINT) AS a, CAST(sum(p) AS HUGEINT) AS vp " +
        "FROM p GROUP BY 1) " +
        "SELECT lang, CAST(n AS BIGINT) AS n_docs, pass_r1, pass_r2, pass_r3, " +
        "CAST(10000 * a // (6 * n) AS BIGINT) AS pbar_bp, " +
        "CAST(10000 * (vp*vp + (3*n - vp)*(3*n - vp)) // (9*n*n) AS BIGINT) AS pe_bp, " +
        "CAST(CASE WHEN 9*n*n - (vp*vp + (3*n - vp)*(3*n - vp)) = 0 THEN 10000 " +
        "WHEN 3*n*a // 2 >= vp*vp + (3*n - vp)*(3*n - vp) " +
        "THEN 10000 * (3*n*a // 2 - (vp*vp + (3*n - vp)*(3*n - vp))) " +
        "// (9*n*n - (vp*vp + (3*n - vp)*(3*n - vp))) " +
        "ELSE -(10000 * ((vp*vp + (3*n - vp)*(3*n - vp)) - 3*n*a // 2) " +
        "// (9*n*n - (vp*vp + (3*n - vp)*(3*n - vp)))) END AS BIGINT) AS kappa_bp " +
        "FROM g ORDER BY lang"
    ),
  )

  // ---------------------------------------------------------------------
  // q230 — shingle novelty curve: per document (in doc_id arrival
  // order), how many of its distinct 3-gram shingles were never seen in
  // any EARLIER document — the marginal-new-content signal a
  // dedup-aware curriculum or crawl-frontier scheduler reads (novelty
  // collapsing toward 0 means the corpus is saturating; the q30/q76
  // machinery asks "is this a duplicate", this asks "what does each doc
  // still ADD").
  //
  // Scale: exactly the q30 inverted-index cost WITHOUT its pair join —
  // the first-seen owner is a min WINDOW over the shingle key, so the
  // corpus shingles are generated ONCE and exchanged ONCE (an
  // aggregate-then-join-back shape would either re-generate the
  // shingle frame on both join sides or broadcast an unbounded
  // distinct-shingle aggregate — plan-audited, rejected); linear in
  // corpus shingle count, no super-linear shared-shingle term
  // anywhere. Integer bp via `div`.
  val q230: QuerySpec = QuerySpec(
    "q230_shingle_novelty",
    (s, d) => {
      val sh = TextPipeline.docShingles(documents(s, d).select("doc_id", "text"), 3)
      sh.withColumn("first_doc", min("doc_id").over(Window.partitionBy("s")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          expr("10000 * n_novel div n_shingles").as("novelty_bp"))
        .orderBy("doc_id")
    },
    Some(
      s"WITH $shinglePairsCteSql, " +
        "fs AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1) " +
        "SELECT sh.doc_id, count(*) AS n_shingles, " +
        "CAST(sum(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "CAST(10000 * sum(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END) " +
        "// count(*) AS BIGINT) AS novelty_bp " +
        "FROM sh JOIN fs ON fs.s = sh.s GROUP BY 1 ORDER BY doc_id"
    ),
  )

  val all: Seq[QuerySpec] =
    Seq(q25, q26, q27, q28, q29, q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40,
      q41, q42, q43, q44, q45, q46, q47, q48, q55, q201, q202, q217, q218, q224,
      q228, q229, q230, q252, q258, q259, q260, q261, q262, q263, q264, q265)
}
