package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The portable hash family of graft's near-duplicate operators:
  * [[portableHash60]] / [[portableHash48]] (md5 prefixes) and the
  * Carter–Wegman rehash [[cwRehash]]. Every step is reproducible
  * verbatim in DuckDB SQL, which gives the registered MinHash-LSH,
  * SimHash and KMV queries real oracles.
  *
  * The MinHash signatures and band keys themselves have one relational
  * form ([[graft.llm.TextPipeline.minHashSignatures]], `bandKeys` and
  * their portable twins) and one per-row form
  * ([[graft.streaming.StreamingIncrementalDedup]]'s `rowSignature` /
  * `rowBandStructs`). SimHash has one form,
  * [[graft.llm.TextPipeline.simHashPortableDf]].
  *
  * Determinism: xxhash64 and md5 are fixed algorithms with fixed seeds,
  * so hashes are stable across runs and clusters.
  */
object MinHash {

  // ------------------------------------------------------------------
  // Portable (cross-engine) variants. xxhash64 exists only in Spark;
  // md5 is bit-identical in every engine, which upgrades the MinHash /
  // SimHash queries from property-pinned to DuckDB-hash-pinned. The
  // 60-bit value is the first 15 md5 hex chars — 15 because 16 would
  // need unsigned 64-bit parsing that signed BIGINT engines disagree
  // on, and 60 bits lose nothing for min-hashing or bit votes. At
  // 100 TB swap `portableHash60` back to xxhash64 (same plan shape,
  // ~3× cheaper per hash); the hash CHOICE is semantically free —
  // that is exactly what makes the portable form a valid oracle.
  // ------------------------------------------------------------------

  /** First 60 bits of md5, as a non-negative long. DuckDB mirror:
    * `CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)`.
    */
  def portableHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Top 48 bits of [[portableHash60]], via a bit shift (NOT `divide`
    * — double division loses exactness above 2⁵³; the operand is
    * non-negative so >>12 ≡ //4096). 48 bits because the KMV
    * cardinality estimate (k−1)·2⁴⁸ div h₍ₖ₎ must keep its numerator
    * inside int64 in EVERY engine (255·2⁴⁸ ≈ 7.2e16 < 2⁶³). DuckDB
    * mirror: `CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) // 4096`.
    * Used by the KMV sketches (graft.ops.SketchQueries,
    * graft.streaming.StreamingKmvReach).
    */
  def portableHash48(c: Column): Column = shiftright(portableHash60(c), 12)

  /** Mersenne prime 2³¹−1: the Carter–Wegman modulus. 31 bits — not
    * 61 — deliberately: a,b,h mod p < 2³¹ keeps every product under
    * 2⁶² so BOTH engines evaluate (a·h + b) mod p in plain BIGINT
    * (DuckDB ERRORS on BIGINT overflow rather than wrapping, and
    * Spark's exact alternative is DECIMAL(38,0) arithmetic — measured
    * 15× slower than long ops on the shingle×64 hot path). 31-bit
    * min-hashes are the classic construction; the rare within-doc
    * collision perturbs both engines IDENTICALLY, so oracle exactness
    * is untouched and the recall property stays spec-pinned.
    */
  val MersenneP: Long = (1L << 31) - 1

  /** Per-function universal-hash constants, derived from md5 so SQL
    * oracles regenerate them verbatim: aᵢ = md5₆₀("a|i") mod (p−1) + 1
    * (nonzero), bᵢ = md5₆₀("b|i") mod p.
    */
  def cwConstants(i: Int): (Long, Long) = {
    def md5_60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    (md5_60(s"a|$i") % (MersenneP - 1) + 1, md5_60(s"b|$i") % MersenneP)
  }

  /** The i-th universal rehash of a 60-bit base hash:
    * (aᵢ·(h mod p) + bᵢ) mod p, p = 2³¹−1, exact in long arithmetic.
    * A cleaner MinHash family than per-function string hashing
    * (Carter–Wegman 2-universality is what Broder's estimate analysis
    * assumes).
    */
  def cwRehash(h: Column, i: Int): Column = {
    val (a, b) = cwConstants(i)
    ((h % lit(MersenneP)) * lit(a) + lit(b)) % lit(MersenneP)
  }
}
