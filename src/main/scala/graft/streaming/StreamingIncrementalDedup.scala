package graft.streaming

import graft.ops.Pin.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.llm.TextPipeline

/** Streaming twin of [[graft.llm.TextPipeline.incrementalCascade]]:
  * documents ARRIVE (a stream of (doc_id, text, ts)) and each is
  * checked against a static base corpus as it lands — the
  * continuous-ingest form of batch-vs-base dedup, where the batch form
  * runs nightly and this form answers "is this a near-dup?" at ingest
  * latency.
  *
  * Shape: the base side is the relational pipeline's shingle/signature
  * state, materialized ONCE (in production: read from the persisted
  * signature tables the batch cascade maintains — the ledger pattern).
  * The stream side computes each arriving doc's signature PER ROW with
  * array higher-order functions: no shuffle, no state, no window — a
  * row in, band keys out — then a stream-static equijoin against the
  * base band keys yields candidates, and a per-row exact
  * `array_intersect` Jaccard verifies them. The only stateful operator
  * is the final watermark-bounded dedup (a doc matching a base doc in
  * several bands must emit once), so executor state is O(pairs inside
  * the watermark), never O(corpus).
  *
  * HOF signatures are CodegenFallback (interpreted) — acceptable here
  * because the stream side touches each arriving doc exactly once;
  * the base side, which at 100 TB dominates, stays on the codegen'd
  * relational path. The per-row forms MUST reproduce the relational
  * hash composition bit-for-bit or band keys never collide across the
  * two pipelines; [[rowSignature]]/[[rowBandStructs]] mirror
  * `minHashSignatures`/`bandKeys` exactly (parity is spec-pinned).
  */
object StreamingIncrementalDedup {

  /** Per-row twin of [[TextPipeline.minHashSignatures]]: the same
    * composition — `h = xxhash64(s)`, then `m_i = min xxhash64(h, i)`
    * — expressed over one row's shingle array instead of a grouped
    * aggregate, so both produce identical signatures for the same
    * document.
    */
  def rowSignature(shingles: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(shingles, s => xxhash64(xxhash64(s), lit(i))))
    }: _*)

  /** Per-row twin of [[TextPipeline.bandKeys]]: bkey is the multi-arg
    * xxhash64 over the band's signature components, exactly as the
    * relational form computes it from its wide columns. Components are
    * read with `getItem` (GetArrayItem), which the optimizer folds
    * against the inlined `array(...)` of [[rowSignature]] to the one
    * component it names; `element_at` does not fold, so every read
    * would copy the whole k-lambda signature into the plan.
    */
  def rowBandStructs(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      val comps = (0 until rowsPerBand).map(r => sig.getItem(b * rowsPerBand + r))
      struct(lit(b).as("band"), xxhash64(comps: _*).as("bkey"))
    }: _*)

  /** The static base side's two frames: band keys for candidate
    * generation and shingle sets for exact verification.
    *
    * Two provenances, one contract:
    *  - [[BaseState.fromCorpus]] computes both from (doc_id, text) and
    *    pins them with `localCheckpoint` — convenient and
    *    self-contained, but localCheckpoint blocks live on executors
    *    (NON-reliable storage): losing an executor mid-stream loses
    *    blocks and fails a long-running query. Fine for tests and
    *    short-lived streams.
    *  - [[BaseState.fromTables]] wraps PERSISTED signature tables (the
    *    ledger pattern — the batch cascade's append-only state written
    *    to parquet/ORC). This is the production path: every micro-batch
    *    re-reads reliable storage, no executor-memory lifetime couples
    *    to the stream's.
    */
  final case class BaseState(bandKeys: DataFrame, shingleSets: DataFrame)

  object BaseState {

    /** Compute base state from a (doc_id, text) corpus frame, pinned
      * with eager localCheckpoints (computed once at plan time, re-read
      * as blocks by every micro-batch). See the durability caveat on
      * [[BaseState]].
      */
    def fromCorpus(
        base: DataFrame,
        shingleK: Int = 3,
        k: Int = 64,
        bands: Int = 16,
        rowsPerBand: Int = 4,
    ): BaseState = {
      require(bands * rowsPerBand <= k)
      val shB = TextPipeline.withDocCounts(TextPipeline.docShingles(base, shingleK))
        .pinLineage()
      val bandB = TextPipeline
        .bandKeys(TextPipeline.minHashSignatures(shB.select("doc_id", "s"), k), bands, rowsPerBand)
        .select(col("doc_id").as("base_doc"), col("band"), col("bkey"))
        .pinLineage()
      val baseSets = shB
        .groupBy(col("doc_id").as("base_doc"))
        .agg(collect_set(col("s")).as("base_set"))
        .pinLineage()
      BaseState(bandB, baseSets)
    }

    /** Wrap pre-materialized signature tables (reliable storage — the
      * production path for long-lived streams). `bandKeys` must carry
      * (base_doc, band, bkey) and `shingleSets` (base_doc, base_set),
      * produced by the SAME hash composition as the batch cascade
      * (minHashSignatures/bandKeys) or band keys will never collide.
      */
    def fromTables(bandKeys: DataFrame, shingleSets: DataFrame): BaseState = {
      Seq("base_doc", "band", "bkey").foreach(c =>
        require(bandKeys.columns.contains(c), s"bandKeys missing column '$c'"))
      Seq("base_doc", "base_set").foreach(c =>
        require(shingleSets.columns.contains(c), s"shingleSets missing column '$c'"))
      BaseState(bandKeys, shingleSets)
    }
  }

  /** Self-contained form: computes base state from the corpus frame
    * (localCheckpoint durability caveat applies — see [[BaseState]]).
    */
  def crossDupStream(
      base: DataFrame,
      stream: DataFrame,
      lateness: String,
      shingleK: Int,
      k: Int,
      bands: Int,
      rowsPerBand: Int,
      threshold: Double,
  ): DataFrame =
    crossDupStream(
      BaseState.fromCorpus(base, shingleK, k, bands, rowsPerBand),
      stream, lateness, shingleK, k, bands, rowsPerBand, threshold)

  def crossDupStream(base: DataFrame, stream: DataFrame): DataFrame =
    crossDupStream(base, stream, "10 minutes", 3, 64, 16, 4, 0.5)

  /** @param state  the base side's band-key and shingle-set frames —
    *               [[BaseState.fromTables]] over persisted signature
    *               tables for long-lived streams
    * @param stream streaming (doc_id, text, ts) frame — `ts` is the
    *               event-time column the result's dedup watermark rides
    * @return append-mode streaming frame of
    *         (incoming_doc, base_doc, jac, ts), one row per cross pair
    *         at or above `threshold`
    */
  def crossDupStream(
      state: BaseState,
      stream: DataFrame,
      lateness: String = "10 minutes",
      shingleK: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
  ): DataFrame = {
    require(bands * rowsPerBand <= k)
    val bandB = state.bandKeys.select("base_doc", "band", "bkey")
    val baseSets = state.shingleSets.select("base_doc", "base_set")

    val arrivals = stream
      .withColumn("shing", array_distinct(TF.wordShingles(col("text"), shingleK)))
      .where(size(col("shing")) > 0)
      .withColumn("sig", rowSignature(col("shing"), k))
      .select(
        col("doc_id").as("incoming_doc"), col("ts"), col("shing"),
        explode(rowBandStructs(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(
        col("incoming_doc"), col("ts"), col("shing"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))

    arrivals
      .join(bandB, Seq("band", "bkey")) // stream-static equijoin
      .join(baseSets, Seq("base_doc"))
      .withColumn("common", size(array_intersect(col("shing"), col("base_set"))))
      .withColumn("jac",
        col("common").cast("double") /
          (size(col("shing")) + size(col("base_set")) - col("common")))
      .where(col("jac") >= threshold)
      .select(col("incoming_doc"), col("base_doc"), col("jac"), col("ts"))
      // one emission per cross pair even when several bands collide;
      // state for this dedup expires with the watermark
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("incoming_doc", "base_doc")
  }
}
