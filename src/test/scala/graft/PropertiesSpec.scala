package graft

import java.sql.{Date, Timestamp}

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.functions._

/** ScalaCheck properties (SURVEY.md §5.2.3). DataFrame-backed
  * properties run few cases (each case is a Spark job); pure ones run
  * the default count.
  */
object GraftProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  // --- upsert commutativity (D1/D2): the final ledger row per key is
  // independent of delta application order, because the winner is the
  // max under a TOTAL order (run_id, updated_at, status rank, payload
  // columns) — an associative+commutative reduction. The generator
  // deliberately produces (run, hour) ties with differing status to
  // exercise the payload tie-break.
  private val deltaGen = for {
    n <- Gen.choose(1, 4)
    rows <- Gen.listOfN(n, for {
      day <- Gen.choose(1, 3)
      hour <- Gen.choose(0, 23)
      run <- Gen.choose(1, 9)
      status <- Gen.oneOf("pending", "success", "failed")
    } yield (day, hour, run, status))
  } yield rows

  property("ledger upsert is order-independent") =
    forAll(deltaGen, deltaGen, Gen.choose(0L, 1000000L)) { (d1, d2, salt) =>
      def toDf(rows: List[(Int, Int, Int, String)]) =
        rows.map { case (day, hour, run, status) =>
          ("s", "c", "q", Date.valueOf(f"2024-01-$day%02d"), status, s"r$run",
            "v1", 1L, Timestamp.valueOf(f"2024-02-01 $hour%02d:00:00"), null: String, 1L)
        }.toDF("source", "customer_id", "query_name", "logical_date", "status",
          "current_run_id", "schema_version", "record_count", "updated_at",
          "error_message", "attempt_count")
      def runOrder(ds: Seq[List[(Int, Int, Int, String)]]): Set[String] = {
        val dir = java.nio.file.Files.createTempDirectory(s"prop$salt").toString
        val store = new graft.state.StateStore(spark, dir)
        ds.filter(_.nonEmpty).foreach(d => store.upsert(toDf(d)))
        store.snapshot()
          .select("logical_date", "status", "current_run_id", "updated_at")
          .collect().map(_.toString).toSet
      }
      runOrder(Seq(d1, d2)) == runOrder(Seq(d2, d1))
    }

  // --- gap-detection inverse (E1): adding the reported gaps back as
  // success rows yields a gap-free ledger.
  private val dateSetGen = Gen.nonEmptyListOf(Gen.choose(1, 20)).map(_.distinct)

  property("inserting reported gaps leaves no gaps") = forAll(dateSetGen) { days =>
    def statesOf(ds: Seq[Int]) =
      ds.map(d => ("s", "c", "q", Date.valueOf(f"2024-01-$d%02d"), "success", "r1",
        "v1", 1L, Timestamp.valueOf("2024-02-01 00:00:00"), null: String, 1L))
        .toDF("source", "customer_id", "query_name", "logical_date", "status",
          "current_run_id", "schema_version", "record_count", "updated_at",
          "error_message", "attempt_count")
    val gaps = graft.state.StateStore.observe.dateGaps(statesOf(days))
      .select("logical_date").as[Date].collect().map(_.toLocalDate.getDayOfMonth).toSeq
    val repaired = graft.state.StateStore.observe.dateGaps(statesOf(days ++ gaps)).count()
    repaired == 0L
  }

  // --- exact-dedup idempotence (q25 semantics): distinct-by-hash is a
  // fixpoint.
  property("dedup by content hash is idempotent") =
    forAll(Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "dd", "ee"))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = df.withColumn("h", md5(col("text"))).dropDuplicates("h")
      val twice = once.dropDuplicates("h")
      once.select("h").collect().toSet == twice.select("h").collect().toSet &&
      once.count() == texts.distinct.size.toLong
    }

  // --- sessionization monotonicity (q27): shrinking the gap threshold
  // never merges sessions — session count is non-increasing in the gap.
  private val tsListGen = Gen.nonEmptyListOf(Gen.choose(0L, 10000L)).map(_.distinct)

  property("session count is non-increasing in gap size") = forAll(tsListGen) { tss =>
    val df = tss.zipWithIndex.map { case (t, i) => (1L, i.toLong, t * 1000000L) }
      .toDF("user_id", "event_id", "ts_us")
    def nSessions(gapUs: Long) = graft.ops.Sessionize.sessions(df, gapUs).count()
    val gaps = Seq(1L, 100L * 1000000L, 5000L * 1000000L, 20000L * 1000000L)
    val counts = gaps.map(nSessions)
    counts.zip(counts.tail).forall { case (smaller, larger) => smaller >= larger }
  }

  // --- pure config properties.
  property("csv split+trim is idempotent and drops empties") =
    forAll(Gen.listOf(Gen.oneOf("a", " b ", "", "  ", "c-d"))) { parts =>
      val csv = parts.mkString(",")
      val once = graft.model.ConfigLoader.splitCustomerIds(csv)
      val again = graft.model.ConfigLoader.splitCustomerIds(once.mkString(","))
      once == again && once.forall(s => s.nonEmpty && s == s.trim)
    }

  property("interpolate replaces exactly the defined vars") =
    forAll(Gen.alphaLowerStr.suchThat(_.nonEmpty), Gen.alphaNumStr) { (name, value) =>
      val out = graft.model.ConfigLoader.interpolate(s"pre ${"$"}{$name} post", Map(name -> value))
      out == s"pre $value post"
    }

  // --- connected components vs a reference union-find: the iterative
  // min-label propagation must produce exactly the partition a
  // sequential union-find computes, on arbitrary random graphs
  // (including self-loops, duplicate and reversed edges).
  private val edgesGen = for {
    n <- Gen.choose(1, 25)
    edges <- Gen.listOfN(n, for {
      a <- Gen.choose(0L, 14L)
      b <- Gen.choose(0L, 14L)
    } yield (a, b))
  } yield edges

  property("connectedComponents matches sequential union-find") =
    forAll(edgesGen) { edges =>
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      val got = graft.ops.Components
        .connectedComponents(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      // union-find roots are component minima too (we always attach the
      // larger root under the smaller), so the maps must be identical
      got == expected
    }

  // --- bloom joins are exact (q87 family): for ANY key set and fpp,
  // semi ∪ anti partitions the fact and each half equals its exact
  // twin — the bloom is an economics dial, never a correctness one.
  private val keySetGen = for {
    keys <- Gen.nonEmptyListOf(Gen.choose(1L, 40L))
    fpp <- Gen.oneOf(0.01, 0.2, 0.5)
  } yield (keys.distinct, fpp)

  property("bloom semi/anti joins equal exact joins and partition the fact") =
    forAll(keySetGen) { case (keys, fpp) =>
      val fact = (1L to 60L).map(i => (i, i % 7)).toDF("k", "v")
      val keyDf = keys.toDF("key")
      val semi = graft.ops.BloomJoin.bloomSemiJoin(fact, keyDf, "k", "key", fpp)
      val anti = graft.ops.BloomJoin.bloomAntiJoin(fact, keyDf, "k", "key", fpp)
      val semiK = semi.select("k").as[Long].collect().toSet
      val antiK = anti.select("k").as[Long].collect().toSet
      val expected = (1L to 60L).filter(keys.contains).toSet
      semiK == expected && antiK == ((1L to 60L).toSet -- expected) &&
        (semiK ++ antiK).size == 60
    }

  // --- containment dominates Jaccard: for any pair both containments
  // are ≥ the Jaccard similarity, and at least one direction is ≥ the
  // other's (max-containment bounds). Checked over random small docs.
  private val docsGen = for {
    n <- Gen.choose(2, 5)
    docs <- Gen.listOfN(n, Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e"))
      .map(_.take(12).mkString(" ")))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("containment >= jaccard on every reported pair") =
    forAll(docsGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      // threshold 0 ⇒ every co-shingled pair reports; join both frames
      val cont = graft.llm.TextPipeline.containmentPairs(df, 2, 0.0)
        .select("da", "db", "cont_a_in_b", "cont_b_in_a")
        .as[(Long, Long, Double, Double)].collect()
        .map { case (a, b, ca, cb) => (a, b) -> (ca, cb) }.toMap
      val jac = graft.llm.TextPipeline.exactJaccardPairs(df, 2, 0.0)
        .select("da", "db", "jac").as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b) -> j }.toMap
      jac.forall { case (pair, j) =>
        cont.get(pair).exists { case (ca, cb) => ca >= j - 1e-9 && cb >= j - 1e-9 }
      } && cont.keySet == jac.keySet
    }

  // --- sweep-line vs brute force: q143's day-aggregated ±1 sweep must
  // equal the naive per-day count over random interval sets, including
  // the first-peak-day tie-break.
  private val intervalsGen = for {
    n <- Gen.choose(1, 8)
    ivs <- Gen.listOfN(n, for {
      s <- Gen.choose(0, 20)
      len <- Gen.choose(0, 9)
    } yield (s, s + len))
  } yield ivs

  private def dayTs(k: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(k).atStartOfDay())

  property("q143 sweep equals the naive per-day count, peak day included") =
    forAll(intervalsGen, Gen.choose(0L, 1000000L)) { (ivs, salt) =>
      val dir = java.nio.file.Files.createTempDirectory(s"sweep$salt").toString
      ivs.zipWithIndex.map { case ((s, _), i) => (i.toLong, "P", dayTs(s)) }
        .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
        .write.parquet(s"$dir/orders.parquet")
      ivs.zipWithIndex.map { case ((_, e), i) => (i.toLong, dayTs(e)) }
        .toDF("l_orderkey", "l_shipdate")
        .write.parquet(s"$dir/lineitem.parquet")
      val r = ops.TimeSeriesQueries.q143.run(spark, dir).collect().head
      val base = java.time.LocalDate.of(1995, 1, 1).toEpochDay
      val perDay = (0 to 30).map(d => d -> ivs.count { case (s, e) => s <= d && d <= e })
      val peak = perDay.map(_._2).max
      val firstDay = base + perDay.find(_._2 == peak).get._1
      r.getAs[Long]("peak") == peak.toLong &&
      r.getAs[Long]("first_peak_day") == firstDay
    }

  property("q151 interval merge equals the brute-force day-set union") =
    forAll(intervalsGen, Gen.choose(0L, 1000000L)) { (ivs, salt) =>
      val dir = java.nio.file.Files.createTempDirectory(s"merge$salt").toString
      ivs.zipWithIndex.flatMap { case ((s, e), i) =>
        Seq((1L, i.toLong, dayTs(s)), (1L, i.toLong, dayTs(e)))
      }.toDF("l_suppkey", "l_orderkey", "l_shipdate")
        .write.parquet(s"$dir/lineitem.parquet")
      val r = ops.TimeSeriesQueries.q151.run(spark, dir).collect().head
      // brute-force interval fold with q151's rule: merge iff the next
      // start is ≤ the running max end (overlap or touch — day-ADJACENT
      // intervals stay separate episodes by design)
      val runs = ivs.sorted.foldLeft(List.empty[(Int, Int)]) {
        case ((rs, re) :: t, (s, e)) if s <= re => (rs, math.max(re, e)) :: t
        case (acc, (s, e)) => (s, e) :: acc
      }
      r.getAs[Long]("n_episodes") == runs.length.toLong &&
      r.getAs[Long]("covered_days") == runs.map { case (s, e) => e - s + 1 }.sum.toLong &&
      r.getAs[Long]("longest_days") == runs.map { case (s, e) => e - s + 1 }.max.toLong
    }

  // --- q173's water level: the claim that makes the query correct —
  // τ = max over ascending prefixes of ⌊max(B − P_{k−1}, 0)/(m−k+1)⌋
  // is FEASIBLE (Σ min(cᵢ, τ) ≤ B) and MAXIMAL (τ+1 overshoots, unless
  // nothing is capped). Pure arithmetic, so this runs 500 seeded cases
  // instead of the suite's small Spark-backed case count.
  property("water-fill max-over-prefixes cap is feasible and maximal") = {
    val rnd = new scala.util.Random(42)
    (1 to 500).forall { _ =>
      val counts = List.fill(1 + rnd.nextInt(12))(rnd.nextInt(200).toLong)
      val total = counts.sum
      val b = total * (1 + rnd.nextInt(99)) / 100
      val sorted = counts.sorted
      val m = sorted.length.toLong
      val prefix = sorted.scanLeft(0L)(_ + _)
      val tau = (1 to sorted.length).map { k =>
        math.max(b - prefix(k - 1), 0L) / (m - k + 1)
      }.max
      def cap(t: Long) = counts.map(math.min(_, t)).sum
      cap(tau) <= b && (tau >= sorted.max || cap(tau + 1) > b)
    }
  }

  // --- q226/Expectations: on ANY generated frame, every rule's
  // violation count equals the straightforward Scala recount — the
  // single-scan CASE-column compilation cannot drift from the rule's
  // meaning, including the NULL-fails-predicate semantics.
  private val gateRowsGen = Gen.listOfN(12, for {
    k <- Gen.choose(1L, 6L) // collisions likely → uniqueness exercised
    tag <- Gen.oneOf(Some("a"), Some("b"), Some("z"), None)
    v <- Gen.oneOf(Some(1.0), Some(-1.0), None)
  } yield (k, tag, v))

  property("Expectations.evaluate matches a direct Scala recount on random frames") =
    forAll(gateRowsGen) { rows =>
      import graft.ops.Expectations
      val df = rows.toDF("k", "tag", "v")
      val got = Expectations.evaluate(df, Seq(
        Expectations.NotNull("tag_present", "tag"),
        Expectations.Unique("k_unique", Seq("k")),
        Expectations.Predicate("v_positive", col("v") > 0),
        Expectations.InSet("tag_domain", "tag", Seq("a", "b")),
      )).collect().map(r =>
        r.getAs[String]("rule") -> r.getAs[Long]("n_violations")).toMap
      val expect = Map(
        "tag_present" -> rows.count(_._2.isEmpty).toLong,
        "k_unique" -> (rows.size - rows.map(_._1).distinct.size).toLong,
        "v_positive" -> rows.count(r => !r._3.exists(_ > 0)).toLong,
        "tag_domain" -> rows.count(r => !r._2.exists(Set("a", "b"))).toLong,
      )
      got == expect
    }

  // --- q172/q182's layout claims, exhaustively: the 8-bit Morton
  // interleave is a bijection (both coordinates invert), and a
  // 256-wide curve range determines BOTH 16-value coordinate tiles —
  // the zone-map locality the z-order queries assert on data.
  property("morton interleave inverts and 256-ranges are 16x16 tiles") = {
    def spread(v: Int) = (0 until 8).map(i => ((v >> i) & 1) << (2 * i)).sum
    def unspread(z: Int) = (0 until 8).map(i => ((z >> (2 * i)) & 1) << i).sum
    (0 until 256).forall { x =>
      (0 until 256).forall { y =>
        val z = spread(x) | (spread(y) << 1)
        unspread(z) == x && unspread(z >> 1) == y &&
        unspread(z >> 8) == x / 16 && unspread(z >> 9) == y / 16
      }
    }
  }
}
