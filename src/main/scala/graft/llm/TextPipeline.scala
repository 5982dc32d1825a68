package graft.llm

import graft.ops.Pin.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.MinHash

/** DataFrame-shaped (relational) implementations of the text/dedup
  * pipeline stages — the forms every registered text query runs.
  *
  * Array higher-order functions are CodegenFallback in Spark: every
  * lambda element is evaluated interpreted, per row (measured: 13.5s to
  * shingle 5k docs interpreted vs <2s relational). These transforms
  * express the stages as explode/window/groupBy pipelines built only
  * from codegen'd native expressions (split, lead, concat_ws, xxhash64,
  * md5, bitwise ops), so the whole stage stays inside WholeStageCodegen
  * and scales linearly with executors.
  *
  * The per-row (HOF) forms left are oracles or streaming twins, each
  * parity-tested against its relational form here:
  * [[graft.functions.TextFunctions]] (shingles, language id) and
  * [[graft.streaming.StreamingIncrementalDedup]] (MinHash signatures
  * and band keys of one row).
  */
object TextPipeline {

  /** Distinct word k-shingles per document: index-explode the token
    * array and assemble each k-gram with `element_at` — entirely
    * executor-local (the explode emits rows from the in-flight array
    * inside WholeStageCodegen; nothing shuffles until the distinct).
    * ONE shuffle total, map-side combined.
    *
    * Replaced the original posexplode + window-lead form: the window
    * forced a full (doc_id, pos) shuffle AND a per-doc sort BEFORE any
    * shingle existed — a second exchange of the entire token stream
    * that this form simply doesn't have. Same output set (spec-pinned:
    * band keys and q30/q41 oracles unchanged).
    *
    * @param widen parallelism floor for the scan-fused explode
    *   ([[graft.ops.Widen]] — conditional, so a wide production scan
    *   is never re-shuffled). [[incrementalCascade]] opts out: its two
    *   half-sized shingle passes are band-join-bound, and the paired
    *   A/B measured the two widen exchanges as a net +21% on q88.
    */
  def docShingles(docs: DataFrame, k: Int = 3, widen: Boolean = true): DataFrame =
    (if (widen) graft.ops.Widen.widened(docs) else docs)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= k)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - (k - 1))).as("i"))
      .select(
        col("doc_id"),
        concat_ws(" ", (0 until k).map(j => element_at(col("ws"), col("i") + lit(j))): _*).as("s"),
      )
      .distinct()

  /** Attach the per-doc distinct-shingle count (|set| for Jaccard). */
  def withDocCounts(shingles: DataFrame): DataFrame =
    shingles.withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))

  /** Runs `body` with a persisted DataFrame, eagerly materializing the
    * result via `localCheckpoint` so the intermediate cache can be
    * released before returning. The returned frame reads the
    * checkpointed blocks (freed by the ContextCleaner when it is
    * GC'd), and nothing remains registered in the session CacheManager
    * — callers own no cleanup (asserted in spec).
    *
    * Deliberate tradeoff: the eager checkpoint is an optimization
    * barrier — the full result computes at CALL time, and downstream
    * filters do not push below it. Right for these operators (their
    * results are consumed whole: dedup reports, candidate tables);
    * callers composing narrower reads should build from the public
    * stages ([[docShingles]], [[minHashSignatures]], [[bandKeys]])
    * and manage their own caching.
    */
  private[llm] def withPersisted(df: DataFrame)(body: DataFrame => DataFrame): DataFrame = {
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(cached).pinLineage()
    finally cached.unpersist(blocking = false)
  }

  /** The exact-Jaccard aggregation over a pre-shingled frame: count
    * common shingles per doc pair from `pairsBase` (rows of
    * (da, db, na, nb), one per common shingle), then filter by the
    * inclusion-exclusion Jaccard.
    */
  private def jaccardFromCommon(pairsBase: DataFrame, threshold: Double): DataFrame =
    pairsBase
      .groupBy("da", "db", "na", "nb")
      .agg(count(lit(1)).as("common"))
      .withColumn("jac", col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .where(col("jac") >= threshold)

  /** Exact Jaccard-similar pairs above `threshold` via a shingle
    * inverted-index self-join. Exact but O(pairs-sharing-a-shingle) —
    * the verification stage of the dedup cascade; [[dedupCascade]] is
    * the composed scale path (LSH candidates, exact verify on
    * candidates only).
    */
  def exactJaccardPairs(docs: DataFrame, k: Int, threshold: Double): DataFrame =
    withPersisted(withDocCounts(docShingles(docs, k))) { sh =>
      jaccardFromCommon(
        sh.as("a")
          .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .select(
            col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            col("a.n").as("na"), col("b.n").as("nb"),
          ),
        threshold)
    }

  /** MinHash signatures as k wide columns `m0..m{k-1}`:
    * shingle → one string xxhash64, then k cheap per-function rehashes
    * (`xxhash64(h, i)`), min-aggregated per doc. All codegen'd; the
    * groupBy partial-aggregates map-side so the shuffle carries one
    * k-column row per doc.
    */
  def minHashSignatures(shingles: DataFrame, k: Int): DataFrame = {
    val hashed = shingles.select(col("doc_id"), xxhash64(col("s")).as("h"))
    val mins = (0 until k).map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Portable-hash MinHash signatures: one md5-derived 60-bit hash per
    * shingle, then k Carter–Wegman rehashes (aᵢ·h+bᵢ mod 2³¹−1) —
    * every step reproducible verbatim in DuckDB SQL, which is what
    * buys q31 a real oracle. Same wide shape and map-side combine as
    * [[minHashSignatures]].
    */
  def minHashSignaturesPortable(shingles: DataFrame, k: Int): DataFrame = {
    val hashed = shingles.select(col("doc_id"), MinHash.portableHash60(col("s")).as("h"))
    val mins = (0 until k).map(i => min(MinHash.cwRehash(col("h"), i)).as(s"m$i"))
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Collapse the wide signature into `array<bigint>` (for estimate
    * comparisons / storage).
    */
  def signatureArray(sigWide: DataFrame, k: Int): DataFrame =
    sigWide.select(col("doc_id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))

  /** LSH band keys: one row per (doc, band) with the band's rows hashed
    * to a single key. Join on (band, bkey) to get candidates.
    */
  def bandKeys(sigWide: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    bandKeysWith(sigWide, bands, rowsPerBand, comps => xxhash64(comps: _*))

  /** Portable band keys: md5-60 of the comma-joined band components —
    * the exact string DuckDB's `string_agg(m, ',' ORDER BY i)` builds.
    */
  def bandKeysPortable(sigWide: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    bandKeysWith(sigWide, bands, rowsPerBand,
      comps => MinHash.portableHash60(concat_ws(",", comps.map(_.cast("string")): _*)))

  private def bandKeysWith(
      sigWide: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      keyHash: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val comps = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), keyHash(comps).as("bkey"))
    }
    sigWide
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Band-collision candidate pairs from a wide signature frame. */
  private def bandCandidates(
      sigWide: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      portable: Boolean = false): DataFrame = {
    val banded =
      if (portable) bandKeysPortable(sigWide, bands, rowsPerBand)
      else bandKeys(sigWide, bands, rowsPerBand)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** Near-dup candidate pairs from LSH banding with signature-estimated
    * Jaccard attached. Scalable end-to-end: shuffles are O(docs·bands),
    * and only candidate pairs (not all pairs) ever materialize.
    */
  def lshCandidates(
      docs: DataFrame,
      shingleK: Int,
      k: Int,
      bands: Int,
      rowsPerBand: Int,
      portable: Boolean = false): DataFrame = {
    require(bands * rowsPerBand <= k)
    // The signature table is referenced three times below (both sides of
    // the band self-join + the estimate lookup); it is tiny (one
    // k-column row per doc) while its lineage (shingling + k hashes) is
    // the expensive part — persist (owned by withPersisted) so the
    // lineage runs once.
    val sigs =
      if (portable) minHashSignaturesPortable(docShingles(docs, shingleK), k)
      else minHashSignatures(docShingles(docs, shingleK), k)
    withPersisted(sigs) { sigWide =>
      val cand = bandCandidates(sigWide, bands, rowsPerBand, portable)
      val sig = signatureArray(sigWide, k)
      cand
        .join(sig.withColumnRenamed("doc_id", "da").withColumnRenamed("sig", "sa"), "da")
        .join(sig.withColumnRenamed("doc_id", "db").withColumnRenamed("sig", "sb"), "db")
        .withColumn(
          "est_jaccard",
          size(filter(zip_with(col("sa"), col("sb"), (a, b) => a === b), x => x)).cast("double") / k,
        )
        .select("da", "db", "est_jaccard")
    }
  }

  /** The composed near-dup pipeline — THE shape that survives 100 TB:
    * MinHash-LSH banding narrows the corpus to candidate pairs
    * (O(docs·bands) shuffle, no all-pairs anywhere), then exact
    * Jaccard verifies ONLY those candidates (each candidate costs
    * O(shingles-per-doc), versus the inverted-index self-join whose
    * shared-shingle pair count grows super-linearly with corpus size).
    *
    * Output equals `exactJaccardPairs` whenever banding recall is 1.0
    * over the true ≥-threshold pairs — oracle-checked as q41 against
    * the same SQL as q30, and measured exact on every test corpus up
    * to a 16× replica (4,096/4,096 pairs recovered).
    *
    * Banding geometry is a RECALL-vs-CANDIDATE-ECONOMY dial, and the
    * honest math matters: P(candidate | jaccard = j) = 1 − (1 − j^r)^b.
    * The 16×4 default gives 0.9998 at j = 0.8 — the regime real
    * near-duplicates live in, and where this corpus's dups sit
    * (measured j ∈ [0.8, 1.0]) — but only ~0.64 at j = 0.5. Economy is
    * why: a 2-row band admits RANDOM pairs with probability j₂^2, and
    * measured at 16× (80k docs) 32×2 floods exact-verify with 65,903
    * candidates where 16×4 sends 4,101. If you need guaranteed recall
    * down AT the verify threshold itself (pairs at j ≈ threshold are
    * must-keeps), pick the largest rows-per-band r with
    * 1 − (1 − j^r)^(k/r) ≥ the recall target — 32×2 for j = 0.5 at
    * recall 0.999 — and pay the verify bill; q30's full exact
    * operator remains the uncompromising reference.
    */
  def dedupCascade(
      docs: DataFrame,
      shingleK: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
  ): DataFrame = {
    require(bands * rowsPerBand <= k)
    withPersisted(withDocCounts(docShingles(docs, shingleK))) { sh =>
      val cand = bandCandidates(minHashSignatures(sh, k), bands, rowsPerBand)
      // exact verify over candidates only: explode each candidate pair
      // by the left doc's shingles, keep the ones the right doc shares,
      // count → inclusion-exclusion Jaccard. Both joins are equijoins
      // on uniformly-distributed keys.
      val common = cand
        .join(
          sh.select(col("doc_id").as("da"), col("s"), col("n").as("na")), Seq("da"))
        .join(
          sh.select(col("doc_id").as("db"), col("s"), col("n").as("nb")), Seq("db", "s"))
        .select("da", "db", "na", "nb")
      jaccardFromCommon(common, threshold)
    }
  }

  /** Asymmetric containment pairs: |A∩B| / |A| — how much of doc A's
    * shingle set lives inside doc B. Jaccard misses subset duplication
    * (a paragraph quoted inside a much larger doc scores low Jaccard
    * but containment ≈ 1), and training corpora are full of exactly
    * that. Emits one row per UNORDERED pair that clears `threshold` in
    * either direction, with both directions reported.
    *
    * Same inverted-index shape as [[exactJaccardPairs]], with one
    * honest scale difference: MINHASH BANDING DOES NOT TRANSFER.
    * Band-collision probability tracks the symmetric Jaccard, and an
    * asymmetric pair (small doc inside a much larger one) has LOW
    * Jaccard precisely when containment is the only signal — the q41
    * cascade would structurally miss it. The scalable candidate
    * generator for containment is rare-shingle blocking: block on
    * shingles whose corpus document-frequency is ≤ a cap, since a
    * contained doc's rare shingles are by definition also in its
    * container; candidate volume is Σ_rare df² — bounded by the cap,
    * not by hot boilerplate shingles. (On this synthetic corpus
    * nearly every shingle is rare, so the blocked and unblocked joins
    * coincide — measured 11,179 vs 11,533 candidate pairs at df ≤ 5
    * with identical final output; on boilerplate-heavy real corpora
    * the common-shingle flood is exactly what the cap removes.)
    */
  /** The containment analog of [[jaccardFromCommon]] — single source
    * of the asymmetric measure + either-direction threshold rule for
    * the exact and blocked operators.
    */
  private def containmentFromCommon(pairsBase: DataFrame, threshold: Double): DataFrame =
    pairsBase
      .groupBy("da", "db", "na", "nb")
      .agg(count(lit(1)).as("common"))
      .withColumn("cont_a_in_b", col("common").cast("double") / col("na"))
      .withColumn("cont_b_in_a", col("common").cast("double") / col("nb"))
      .where(col("cont_a_in_b") >= threshold || col("cont_b_in_a") >= threshold)

  def containmentPairs(docs: DataFrame, k: Int, threshold: Double): DataFrame =
    withPersisted(withDocCounts(docShingles(docs, k))) { sh =>
      containmentFromCommon(
        sh.as("a")
          .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .select(
            col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            col("a.n").as("na"), col("b.n").as("nb"),
          ),
        threshold)
    }

  /** The scale path for [[containmentPairs]]: candidates from
    * rare-shingle blocking (pairs sharing at least one shingle with
    * corpus document-frequency ≤ `maxDf`), exact containment verified
    * on candidates only. Rare blocks bound candidate volume at
    * Σ_rare df² ≤ maxDf · |rare shingles| regardless of how hot the
    * corpus's boilerplate shingles are — the inverted-index join's
    * flood comes precisely from high-df shingles, which the cap
    * excludes from CANDIDATE GENERATION while the verify still counts
    * them. Recall logic: a pair at containment ≥ t shares ≥ t of the
    * smaller doc's shingles, and a doc whose every shared shingle is
    * common (df > maxDf) is boilerplate-only — the pairs this can
    * miss are exactly the ones a dedup pipeline wants q89's
    * repetition gates to kill first. Parity with the exact operator
    * is spec-pinned on the test corpora.
    */
  def containmentBlocked(docs: DataFrame, k: Int, threshold: Double, maxDf: Int): DataFrame =
    withPersisted(withDocCounts(docShingles(docs, k))) { sh =>
      val rare = sh.select(col("doc_id"), col("s"))
        .join(
          sh.groupBy("s").agg(count(lit(1)).as("df")).where(col("df") <= maxDf).select("s"),
          Seq("s"))
      val cand = rare.as("a")
        .join(rare.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      containmentFromCommon(
        cand
          .join(sh.select(col("doc_id").as("da"), col("s"), col("n").as("na")), Seq("da"))
          .join(sh.select(col("doc_id").as("db"), col("s"), col("n").as("nb")), Seq("db", "s"))
          .select("da", "db", "na", "nb"),
        threshold)
    }

  /** Prefix-filtering set-similarity join (the AllPairs/PPJoin family,
    * Bayardo et al. 2007 / Xiao et al. 2008): the LOSSLESS scalable
    * candidate generator for exact Jaccard ≥ `threshold`.
    *
    * Order each doc's shingles by a canonical global total order —
    * (document frequency ASC, shingle ASC), rarest first — and keep
    * only each doc's PREFIX of the first |A| − ⌈t·|A|⌉ + 1 shingles.
    * Two sets with J(A,B) ≥ t must share at least one prefix shingle
    * (if all common shingles sat past both prefixes, the overlap
    * could not reach the ⌈t/(1+t)·(|A|+|B|)⌉ needed), so the
    * prefix-only inverted-index join has RECALL 1.0 BY CONSTRUCTION —
    * unlike LSH banding, no probabilistic geometry to tune, which is
    * why its q192 form can be hash-matched against the exact q30
    * oracle rather than property-pinned. The size filter
    * t·|B| ≤ |A| ≤ |B|/t (a consequence of J ≥ t) prunes further
    * before any pair materializes.
    *
    * Scale: the join touches only prefix tokens — rare-first ordering
    * makes prefixes the LOW-df end of the vocabulary, so candidate
    * volume is Σ_prefix-shingle df² over rare shingles (small df),
    * while hot boilerplate shingles land in suffixes and never
    * generate a candidate. At t = 0.5 the prefix is ~half of each
    * doc; at t = 0.8 it is ~a fifth — economy grows with the
    * threshold exactly where near-dup detection operates. Exact
    * verify then runs on candidates only (the cascade discipline).
    */
  /** Candidate pairs from prefix filtering over a distinct
    * (doc_id, s) shingle frame — the stage [[prefixFilterPairs]]
    * composes, public so its candidate economy is testable on its
    * own. Rare-first prefixes WITHOUT any global sort: df is a
    * map-side-combined aggregate (|V| rows) joined back on s — the
    * same key the candidate join shuffles on — and the canonical
    * (df, s) order is imposed per doc by an executor-local
    * array_sort over that doc's own shingles (bounded by doc length,
    * the q69 array discipline). The first form of this operator
    * ranked with two WindowExecs — two full sorts of the corpus-
    * sized shingle stream, measured 8.2× at the 16× probe — this
    * form has zero corpus-wide sorts. The t·|B| ≤ |A| ≤ |B|/t size
    * consequence of J ≥ t is enforced inside the join condition, so
    * pairs failing it never materialize.
    */
  def prefixCandidates(shingles: DataFrame, threshold: Double): DataFrame = {
    val df = shingles.groupBy("s").agg(count(lit(1)).as("df"))
    // Measured and REJECTED this round: pinning this frame
    // hash-partitioned on s (Pin.pinPartitioned) to dedup the double
    // construction the self-join's alias dedup causes. Bench-neutral
    // at sf0.1, and at the 64× replica it LOST 3.7× — the prefix
    // frame is corpus-sized (~86 rows/doc), and materializing it as
    // checkpoint blocks costs far more than streaming its (cheap,
    // codegen'd) construction twice. The double construction stays as
    // the lesser evil; it is two map-side passes, never a shuffle.
    val prefix = shingles.select("doc_id", "s")
      .join(df, Seq("s"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("arr"))
      .select(
        col("doc_id"),
        size(col("arr")).cast("long").as("n"),
        explode(slice(
          col("arr"), lit(1),
          (size(col("arr")) - ceil(lit(threshold) * size(col("arr"))) + 1).cast("int"),
        )).as("p"))
      .select(col("doc_id"), col("p.s").as("s"), col("n"))
    prefix.as("a")
      .join(
        prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") >= lit(threshold) * col("b.n") &&
          col("b.n") >= lit(threshold) * col("a.n"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  def prefixFilterPairs(docs: DataFrame, k: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1]: $threshold")
    withPersisted(docShingles(docs, k)) { sh =>
      val cand = prefixCandidates(sh, threshold)
      // Exact verify by executor-local set intersection: each doc's
      // shingle set travels ONCE as a compact hashed array (sets are
      // distinct by construction; 64-bit collisions across a pair are
      // ~|A|·|B|/2⁶⁴ — vanishing, and the oracle hash-match would
      // catch one). The earlier verify joined candidates back through
      // the shingle table — a per-candidate fanout of |A| rows that
      // dominated the probe (70s of an 84s run at 16×); this ships
      // 2 arrays per candidate instead.
      val sets = sh
        .groupBy("doc_id")
        .agg(collect_list(xxhash64(col("s"))).as("hs"), count(lit(1)).as("n"))
      cand
        .join(
          sets.select(col("doc_id").as("da"), col("hs").as("ha"), col("n").as("na")),
          Seq("da"))
        .join(
          sets.select(col("doc_id").as("db"), col("hs").as("hb"), col("n").as("nb")),
          Seq("db"))
        .withColumn("common", size(array_intersect(col("ha"), col("hb"))).cast("long"))
        .withColumn("jac", col("common").cast("double") / (col("na") + col("nb") - col("common")))
        .where(col("jac") >= threshold)
        .select("da", "db", "na", "nb", "common", "jac")
    }
  }

  /** Incremental (batch-vs-base) near-dup cascade: which `incoming`
    * docs are ≥`threshold`-Jaccard similar to some `base` doc — the
    * cascade's machinery ([[docShingles]] → [[minHashSignatures]] →
    * [[bandKeys]] → exact verify) with the band join keyed ACROSS the
    * two frames instead of self-joined. This is dedup's operational
    * form: corpora grow by batches, and each batch must check against
    * the accumulated base without re-pairing the base with itself —
    * base×base candidates (the quadratic bulk a full [[dedupCascade]]
    * re-run would pay) never materialize.
    *
    * Output: (incoming_doc, base_doc, jac), one row per cross pair at
    * or above the threshold, exact modulo banding recall (the q41
    * geometry discussion applies unchanged).
    *
    * At production scale the base side's shingle/signature frames are
    * persisted state from previous runs (append-only, the ledger
    * pattern) — this signature recomputes them from text so the
    * operator is self-contained; swap the `shB`/`bandB` inputs for
    * stored tables to make a batch run O(batch·bands) shuffle plus
    * candidate verifies.
    */
  def incrementalCascade(
      base: DataFrame,
      incoming: DataFrame,
      shingleK: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
  ): DataFrame = {
    require(bands * rowsPerBand <= k)
    withPersisted(withDocCounts(docShingles(base, shingleK, widen = false))) { shB =>
      withPersisted(withDocCounts(docShingles(incoming, shingleK, widen = false))) { shI =>
        val bandB = bandKeys(minHashSignatures(shB.select("doc_id", "s"), k), bands, rowsPerBand)
        val bandI = bandKeys(minHashSignatures(shI.select("doc_id", "s"), k), bands, rowsPerBand)
        val cand = bandI.as("i")
          .join(bandB.as("b"),
            col("i.band") === col("b.band") && col("i.bkey") === col("b.bkey"))
          .select(col("i.doc_id").as("incoming_doc"), col("b.doc_id").as("base_doc"))
          .distinct()
        // jaccardFromCommon is the single source of the
        // inclusion-exclusion + threshold rule; map into its (da, db)
        // vocabulary and back so the convention lives in one place
        jaccardFromCommon(
          cand
            .select(col("incoming_doc").as("da"), col("base_doc").as("db"))
            .join(shB.select(col("doc_id").as("db"), col("s"), col("n").as("nb")), Seq("db"))
            .join(shI.select(col("doc_id").as("da"), col("s"), col("n").as("na")), Seq("da", "s"))
            .select("da", "db", "na", "nb"),
          threshold)
          .select(col("da").as("incoming_doc"), col("db").as("base_doc"), col("jac"))
      }
    }
  }

  /** C4/Gopher-style corpus cleaning as ONE composed declarative
    * pipeline — the shape an LLM-training data pass actually ships:
    *
    *  1. exact dedup, keep-first: the lowest doc_id survives per
    *     `md5(text)` (hash-groupBy + semi join; uniform keys, no skew);
    *  2. length gate: whitespace token count in [minTokens, maxTokens];
    *  3. prose gate: stopword ratio ≥ minStopwordRatio (keyword spam
    *     and boilerplate score near zero).
    *
    * Entirely built-in expressions ⇒ every predicate is codegen'd and
    * the whole pipeline is one scan + one small dedup shuffle. At
    * 100 TB each gate drops data BEFORE the next pays for it: Catalyst
    * collapses the filters into the scan, and only the dedup keeps a
    * (hash → min doc_id) table.
    */
  def cleanCorpus(
      docs: DataFrame,
      stopwords: Seq[String],
      minTokens: Int,
      maxTokens: Int,
      minStopwordRatio: Double,
  ): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val keepers = docs
      .select(md5(col("text")).as("__h"), col("doc_id"))
      .groupBy("__h")
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    docs
      .join(keepers, Seq("doc_id"), "left_semi")
      .withColumn("n_tokens", TF.tokenCountWs(col("text")))
      .withColumn("stopword_ratio", TF.stopwordRatio(col("text"), stopwords))
      .where(col("n_tokens").between(minTokens, maxTokens) &&
        col("stopword_ratio") >= minStopwordRatio)
  }

  /** Portable 60-bit SimHash per doc (md5-prefix token hashes),
    * relational: per-token hash, per-bit ±1 vote sums in one 60-column
    * aggregate, sign → bit. Every step — tokenization, per-token hash,
    * bit votes, sign assembly — is reproducible verbatim in DuckDB SQL,
    * which is what buys q32 a real oracle.
    */
  def simHashPortableDf(docs: DataFrame): DataFrame = {
    val bits = 60
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), MinHash.portableHash60(col("w")).as("h"))
    val votes = (0 until bits).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0L, 1L).otherwise(-1L)).as(s"v$b")
    }
    tok
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(
        col("doc_id"),
        (0 until bits)
          .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _)
          .as("simhash"),
      )
  }

  /** Language-ID heuristic, relational form: one token explode, per-lang
    * stopword-hit sums, zh scored document-level on character
    * containment, fixed-order argmax. Same decision function as
    * [[graft.functions.TextFunctions.langId]] (parity-tested).
    */
  def langIdDf(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.langProfiles
    val wordLangs = Seq("en", "de", "fr", "es")
    val tok = docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
    val sums = wordLangs.map { l =>
      sum(when(col("w").isInCollection(langProfiles(l)), 1).otherwise(0)).as(s"s_$l")
    }
    val wordScores = tok.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    val zh = langProfiles("zh")
      .map(c => when(col("text").contains(c), 1).otherwise(0))
      .reduce(_ + _)
    val scored = docs
      .select(col("doc_id"), zh.cast("long").as("s_zh"))
      .join(wordScores, Seq("doc_id"), "left_outer")
      .na.fill(0L, wordLangs.map(l => s"s_$l"))
    val ordered = Seq("en", "de", "fr", "es", "zh")
    val best = ordered.tail.foldLeft((lit("en"), col("s_en"))) { case ((bl, bs), l) =>
      val sc = col(s"s_$l")
      (when(sc > bs, lit(l)).otherwise(bl), when(sc > bs, sc).otherwise(bs))
    }
    scored.select(
      col("doc_id"),
      when(best._2 > 0, best._1).otherwise(lit("und")).as("pred_lang"),
    )
  }

  /** Entity-resolution-style fuzzy match: BLOCKING (equijoin on a cheap
    * deterministic key — here the lowercased first `blockWords` words)
    * then edit-distance VERIFY (`levenshtein`, a codegen'd native
    * expression) on the candidates only. The third
    * candidates-then-verify instance in the engine, beside
    * [[dedupCascade]] (set similarity) and
    * [[graft.llm.SimilarityPipeline.annNearDupPairsPortable]] (vector
    * similarity) — edit distance covers the typo/near-copy record
    * linkage case the other two miss.
    *
    * Scale: the join is an equijoin on the block key, so shuffle volume
    * is O(N) and per-block work is |block|² — the block key must keep
    * blocks small (first-words + a vocabulary: blocks here max out at 4
    * for 500 docs). Verify cost is bounded by `headLen`² per candidate
    * pair, never evaluated all-pairs. Recall is blocking-limited BY
    * DESIGN (pairs differing in their first words are never compared) —
    * the standard ER trade; run multiple blocking passes with different
    * keys to raise recall.
    */
  def fuzzyBlockedPairs(
      docs: DataFrame,
      headLen: Int = 60,
      blockWords: Int = 2,
      maxDist: Int = 15,
  ): DataFrame = {
    val t = docs.select(
      col("doc_id"),
      lower(substring(col("text"), 1, headLen)).as("head"),
      md5(lower(concat_ws(" ", slice(split(col("text"), " "), 1, blockWords)))).as("blk"),
    )
    t.as("a")
      .join(t.as("b"), col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("da"),
        col("b.doc_id").as("db"),
        levenshtein(col("a.head"), col("b.head")).cast("bigint").as("dist"),
      )
      .where(col("dist") <= maxDist)
  }
}
