package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Tables

class MinHashSpec extends SparkSpec {
  import MinHash._

  test("estimateJaccard ≈ exact jaccard on document shingle sets") {
    import spark.implicits._
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val b = "w1 w2 w3 w4 w5 w6 w7 w8 xx yy" // 8-gram overlap of 3-shingles: 6 of 8 vs 8
    // 64 bands of 2 rows over 128 hashes: at jaccard 0.6 the pair is a
    // candidate with probability 1 − (1 − 0.6²)⁶⁴ > 1 − 10⁻¹²
    val cand = graft.llm.TextPipeline.lshCandidates(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text"), shingleK = 3, k = 128, bands = 64, rowsPerBand = 2)
    val est = cand.select("est_jaccard").as[Double].collect().toSeq
    // exact jaccard: |A∩B|=6, |A∪B|=10 → 0.6; 128 hashes → ±~0.15
    assert(est.size == 1, s"the pair must be the one candidate: $est")
    assert(est.head > 0.4 && est.head < 0.8, s"est=${est.head}")
  }

  test("LSH candidates recover the exact near-dup pairs (q31 ⊇∩ q30 on testdata)") {
    val exact = graft.llm.LlmQueries.q30.run(spark, sfDir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.llm.LlmQueries.q31.run(spark, sfDir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every exact pair with jaccard≥0.5 should be surfaced by 16x4 LSH
    // (prob of missing at j=0.5: (1-0.5^4)^16 ≈ 0.35 per pair is too weak;
    // the planted dups are j≈0.9+ where miss prob ≈ (1-0.66)^16 ≈ 1e-8)
    val missed = exact -- lsh
    assert(missed.size <= exact.size / 4,
      s"LSH missed too many exact pairs: $missed")
  }

  test("xxhash64 LSH variant (the 100 TB fast path) recovers the exact pairs too") {
    // q31 registers the PORTABLE (md5/Carter–Wegman) family for oracle
    // parity; the xxhash64 family stays the documented at-scale swap —
    // this pins that the swap preserves the recall property.
    val exact = graft.llm.LlmQueries.q30.run(spark, sfDir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.llm.TextPipeline
      .lshCandidates(Tables.documents(spark, sfDir).select("doc_id", "text"),
        shingleK = 3, k = 64, bands = 16, rowsPerBand = 4)
      .where(col("est_jaccard") >= 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- lsh
    assert(missed.size <= exact.size / 4,
      s"xxhash64 LSH missed too many exact pairs: $missed")
  }

  test("simHashPortable: 60-bit range, identical sets equal, near sets closer than disjoint") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "one two three four five six seven eight"),
    ).toDF("doc_id", "text")
    val m = graft.llm.TextPipeline.simHashPortableDf(docs).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(m.values.forall(v => v >= 0 && v < (1L << 60)), "portable simhash must stay in 60 bits")
    assert(m(1L) == m(2L))
    assert(ham(m(1L), m(3L)) < ham(m(1L), m(4L)))
  }

  test("portableHash60 and cwRehash match their documented DuckDB mirrors by construction") {
    import spark.implicits._
    // portableHash60('hello') must equal DuckDB's
    // CAST(('0x'||substr(md5('hello'),1,15)) AS BIGINT) = 419982666956583591
    // (value cross-checked against DuckDB 1.0 directly).
    val h = Seq("hello").toDF("t").select(portableHash60(col("t"))).head().getLong(0)
    assert(h == 419982666956583591L)
    // cwRehash stays in [0, p) and distinct functions map one input apart
    val r = Seq("hello").toDF("t")
      .select(cwRehash(portableHash60(col("t")), 0).as("r0"),
        cwRehash(portableHash60(col("t")), 1).as("r1"))
      .head()
    assert(r.getLong(0) != r.getLong(1))
    assert(Seq(r.getLong(0), r.getLong(1)).forall(v => v >= 0 && v < MersenneP))
  }
}
