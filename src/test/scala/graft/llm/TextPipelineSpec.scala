package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{MinHash, TextFunctions => TF}

/** Parity tests: the relational (codegen) pipeline must agree with the
  * Column-function (HOF) forms it replaces in the hot path — among them
  * the xxhash64 SimHash, bit for bit.
  */
class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val docs = graft.ops.Tables.documents(spark, sfDir).select("doc_id", "text")

  test("docShingles ≡ exploded wordShingles (distinct sets)") {
    val relational = TextPipeline.docShingles(docs, 3)
      .as[(Long, String)].collect().toSet
    val hof = docs.select(col("doc_id"), explode(TF.wordShingles(col("text"), 3)).as("s"))
      .as[(Long, String)].collect().toSet
    assert(relational == hof)
  }

  test("langIdDf ≡ TextFunctions.langId on multilingual fixtures") {
    val fixtures = Seq(
      (0L, "the cat sat on the mat and it was happy"),
      (1L, "der hund ist nicht mit der katze auf dem sofa"),
      (2L, "le chat est dans la maison et il dort pour une heure"),
      (3L, "el perro es una mascota y los gatos son como reyes"),
      (4L, "我是一个人他不是这个人"),
      (5L, "xyzzy plugh qwerty"),
    ).toDF("doc_id", "text")
    val relational = TextPipeline.langIdDf(fixtures).as[(Long, String)].collect().toMap
    val hof = fixtures.select(col("doc_id"), TF.langId(col("text")).as("p"))
      .as[(Long, String)].collect().toMap
    assert(relational == hof)
    assert(relational(0L) == "en" && relational(4L) == "zh" && relational(5L) == "und")
  }

  test("minHashSignatures: deterministic, k columns, identical docs → identical sigs") {
    val two = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "h i j k l m n"))
      .toDF("doc_id", "text")
    val sig = TextPipeline.signatureArray(
      TextPipeline.minHashSignatures(TextPipeline.docShingles(two, 3), 16), 16)
    val m = sig.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(m(1L).length == 16)
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
  }

  test("lshCandidates est_jaccard ∈ [0,1] and finds the planted near-dups") {
    val cand = TextPipeline.lshCandidates(docs, 3, 64, 16, 4)
    val est = cand.select("est_jaccard").as[Double].collect()
    assert(est.forall(e => e >= 0.0 && e <= 1.0))
    val exact = TextPipeline.exactJaccardPairs(docs, 3, 0.8)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val found = cand.where(col("est_jaccard") >= 0.5)
      .select("da", "db").as[(Long, Long)].collect().toSet
    // every strongly-duplicated pair must surface as an LSH candidate
    assert(exact.subsetOf(found), s"missing: ${exact -- found}")
  }

  test("dedupCascade ≡ exactJaccardPairs on the corpus (q41 contract)") {
    def norm(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select(col("da"), col("db"), round(col("jac"), 4).as("j"))
        .as[(Long, Long, Double)].collect().toSet
    val exact = norm(TextPipeline.exactJaccardPairs(docs, 3, 0.5))
    val cascade = norm(TextPipeline.dedupCascade(docs, 3, 64, 16, 4, 0.5))
    assert(cascade == exact,
      s"cascade missed ${exact -- cascade}, extra ${cascade -- exact}")
  }

  test("prefixFilterPairs ≡ exactJaccardPairs on the corpus (q192 contract, both thresholds)") {
    def norm(df: org.apache.spark.sql.DataFrame, t: Double): Set[(Long, Long, Double)] =
      df.select(col("da"), col("db"), round(col("jac"), 4).as("j"))
        .as[(Long, Long, Double)].collect().toSet
    for (t <- Seq(0.5, 0.8)) {
      val exact = norm(TextPipeline.exactJaccardPairs(docs, 3, t), t)
      val prefixed = norm(TextPipeline.prefixFilterPairs(docs, 3, t), t)
      assert(prefixed == exact,
        s"t=$t: prefix filter missed ${exact -- prefixed}, extra ${prefixed -- exact}")
    }
  }

  test("prefixFilterPairs: lossless AT the threshold — guaranteed, not probable") {
    // A pair engineered to sit just above jaccard = 0.8 (10-shingle
    // docs sharing 9: j = 9/11 ≈ 0.818): LSH finds such a pair with
    // probability < 1 at any banding geometry; the prefix filter must
    // find it always.
    val fixture = Seq(
      (1L, "wa wb wc wd we wf wg wh wi wj wk wl"),
      (2L, "wa wb wc wd we wf wg wh wi wj wk xx"), // last word differs → 9/11
      (3L, "aa bb cc dd ee ff gg hh ii jj kk ll"), // disjoint
    ).toDF("doc_id", "text")
    val exact = TextPipeline.exactJaccardPairs(fixture, 3, 0.8)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val prefixed = TextPipeline.prefixFilterPairs(fixture, 3, 0.8)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(exact == Set((1L, 2L)), s"fixture must sit above the threshold: $exact")
    assert(prefixed == exact, s"at-threshold pair lost: ${exact -- prefixed}")
  }

  test("prefixCandidates: boilerplate shingles never generate candidates") {
    // 120 docs sharing an identical 12-word boilerplate head with
    // unique 12-word tails: every boilerplate shingle has df = 120, so
    // the inverted-index pair base holds ≥ C(120,2)·10 ≈ 71k rows of
    // pure boilerplate collisions, while rare-first prefixes contain
    // ONLY the unique-tail shingles — zero cross-doc candidates. This
    // is the df²-flood robustness the prefix filter exists for.
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val fixture = (0 until 120)
      .map(i => (i.toLong, boiler + " " + (1 to 12).map(j => s"u${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val sh = TextPipeline.docShingles(fixture, 3)
    val invertedRows = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .count()
    assert(invertedRows >= 71000L, s"fixture must flood the inverted index: $invertedRows")
    val nCand = TextPipeline.prefixCandidates(sh, 0.8).count()
    assert(nCand == 0L, s"boilerplate must stay out of prefixes, got $nCand candidates")
    // and the end-to-end answer still matches the exact operator (empty here)
    assert(TextPipeline.prefixFilterPairs(fixture, 3, 0.8).count() ==
      TextPipeline.exactJaccardPairs(fixture, 3, 0.8).count())
  }

  test("pipeline queries leave no session-lifetime caches (unpersist discipline)") {
    TextPipeline.exactJaccardPairs(docs, 3, 0.5).count()
    TextPipeline.lshCandidates(docs, 3, 64, 16, 4).count()
    TextPipeline.dedupCascade(docs).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "CacheManager must be empty after pipeline queries complete")
  }

  test("fuzzyBlockedPairs: blocking + levenshtein verify semantics") {
    val fixture = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilonX"), // 1 edit from doc 1, same block
      (3L, "alpha beta totally different tail words here"), // same block, far head
      (4L, "zeta beta gamma delta epsilon"), // near doc 1 but different first word → never compared
      (5L, "ALPHA BETA gamma delta epsilon"), // case-folded into doc 1's block, dist 0
    ).toDF("doc_id", "text")
    val pairs = TextPipeline.fuzzyBlockedPairs(fixture, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((1L, 2L, 1L)), s"1-edit pair must verify, got $pairs")
    assert(pairs.contains((1L, 5L, 0L)), "case folding applies to block AND head")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "blocking-limited recall: different first word is never a candidate (by design)")
    assert(!pairs.exists(p => (p._1, p._2) == ((1L, 3L))), "far head fails verify")
    // canonical ordering: da < db always
    assert(pairs.forall(p => p._1 < p._2))
  }

  test("q228 eval holdout: fixed budget per stratum, hash-ordered, stratum sizes exact") {
    val dir = java.nio.file.Files.createTempDirectory("q228fix").toString
    // stratum (web, en): 5 docs → exactly 3 sampled, in md5-of-id
    // order; stratum (web, fr): 2 docs → both sampled (budget caps,
    // never pads). Ranks must follow the portable hash order, not id.
    (Seq.tabulate(5)(i => (10L + i, s"t$i", "en", "web")) ++
      Seq((20L, "u0", "fr", "web"), (21L, "u1", "fr", "web")))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val r = LlmQueries.q228.run(spark, dir).collect()
      .map(x => (x.getAs[String]("source"), x.getAs[String]("lang"),
        x.getAs[Long]("sample_rank"), x.getAs[Long]("doc_id"), x.getAs[Long]("stratum_docs")))
    val en = r.filter(_._2 == "en")
    assert(en.length == 3 && en.forall(_._5 == 5L), s"en stratum must sample exactly 3 of 5: ${en.toSeq}")
    val fr = r.filter(_._2 == "fr")
    assert(fr.length == 2 && fr.forall(_._5 == 2L), "2-doc stratum yields both, no padding")
    // rank order ≡ portable-hash order (recompute the hash directly)
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val expected = (10L to 14L).sortBy(id => (h60(id.toString), id)).take(3)
    assert(en.sortBy(_._3).map(_._4).toSeq == expected,
      "sample ranks must follow the md5 hash order, not doc_id order")
    // plan pin: the rank ≤ k filter must plan a PARTIAL WindowGroupLimit
    // BEFORE the stratum exchange (map-side bounded heap — the property
    // that keeps the shuffle ~k rows per (task, stratum) at 100 TB)
    val plan = LlmQueries.q228.run(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected a partial WindowGroupLimit below the exchange, plan:\n$plan")
  }

  test("q229 filter agreement: hand-computed Fleiss kappa, unanimous stratum reports 10000") {
    val dir = java.nio.file.Files.createTempDirectory("q229fix").toString
    // lang X: pass-counts p = [3, 0, 2] → A=14, Vp=5, Vf=4 →
    // κ = (3·3·14/2 − 41)/(81 − 41) = 22/40 → 5500 bp;
    // P̄ = 10⁴·14 div 18 = 7777; P̄e = 10⁴·41 div 81 = 5061.
    // lang Y: one all-pass doc → unanimous, κ = 10000 by convention.
    val allPass = Seq.fill(12)("the cat ran").mkString(" ") // 36w, 12 stop, chars 108 = 3·36
    val nonePass = "abcdefghijkl mnopqrstuvwx" // 2w, 0 stop, avg 12
    val twoPass = Seq.fill(12)("cat ran far").mkString(" ") // 36w, 0 stop → r2 fails
    Seq((1L, allPass, "X", "s"), (2L, nonePass, "X", "s"), (3L, twoPass, "X", "s"),
      (4L, allPass, "Y", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val r = LlmQueries.q229.run(spark, dir).collect()
      .map(x => x.getAs[String]("lang") ->
        ((x.getAs[Long]("n_docs"), x.getAs[Long]("pass_r1"), x.getAs[Long]("pass_r2"),
          x.getAs[Long]("pass_r3"), x.getAs[Long]("pbar_bp"), x.getAs[Long]("pe_bp"),
          x.getAs[Long]("kappa_bp")))).toMap
    assert(r("X") == ((3L, 2L, 1L, 2L, 7777L, 5061L, 5500L)), s"got ${r("X")}")
    assert(r("Y") == ((1L, 1L, 1L, 1L, 10000L, 10000L, 10000L)))
  }

  test("q230 shingle novelty: first doc fully novel, repeat scores 0, partial overlap exact") {
    val dir = java.nio.file.Files.createTempDirectory("q230fix").toString
    // doc 1: shingles {a b c, b c d} — all novel (10000 bp)
    // doc 2: same text — 0 novel (0 bp)
    // doc 3: "b c d e" → {b c d (seen), c d e (new)} → 5000 bp
    // doc 4: "x y" → no shingles, excluded entirely
    Seq((1L, "a b c d", "en", "s"), (2L, "a b c d", "en", "s"),
      (3L, "b c d e", "en", "s"), (4L, "x y", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val r = LlmQueries.q230.run(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_shingles"), x.getAs[Long]("n_novel"), x.getAs[Long]("novelty_bp"))))
      .toMap
    assert(r == Map(
      1L -> ((2L, 2L, 10000L)),
      2L -> ((2L, 0L, 0L)),
      3L -> ((2L, 1L, 5000L))))
  }
}
