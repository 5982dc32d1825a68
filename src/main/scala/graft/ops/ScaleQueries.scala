package graft.ops

import graft.ops.Pin.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** q87/q90: scale-mechanics operators — bloom-accelerated key-set
  * membership and robust (median/MAD) outlier detection.
  *
  * Both are extensions in the q39–q63 spirit: no reference counterpart
  * (the reference's membership gating is exact and driver-sized —
  * SURVEY.md E4/J3; its validation stops at count equality — A6), but
  * operators any engine running at 100 TB needs as first-class,
  * oracle-checked citizens.
  */
object ScaleQueries {
  import Exact._
  import Tables._

  // ---------------------------------------------------------------------
  // q87 — bloom-prefiltered semi-join: revenue of lineitems belonging
  // to urgent finished orders, with the fact side pre-filtered by a
  // bloom of the qualifying order keys before the exact semi-join
  // cleans the false positives ([[BloomJoin]]). The answer is
  // EXACTLY the plain semi-join's (the oracle is that plain SQL); what
  // changes is the plan: the codegen'd `might_contain` probe drops
  // ~93% of lineitem rows at the scan (1,000 of 15,000 orders
  // qualify), so the join exchange moves ~7% of the fact.
  //
  // Scale: THE pattern for "fact ⋉ big key set" when the key set
  // outgrows a broadcast hash relation but its bloom bits fit
  // anywhere: bloom build is a distributed treeAggregate over the key
  // side; probe volume is what the semi-join shuffle would have been,
  // shrunk to the match fraction + fpp. Spark's AQE/InjectRuntimeFilter
  // plants the same filter automatically only under specific shapes
  // and thresholds; the explicit operator makes the plan's economics a
  // contract, not an optimizer maybe.
  val q87: QuerySpec = QuerySpec(
    "q87_bloom_semi_join",
    (s, d) => {
      val keys = orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      // AutoSize: one approx_count_distinct pre-pass sizes the filter
      // from the ACTUAL qualifying-key cardinality — a fixed guess
      // (4096 previously) silently degrades the observed fpp the day
      // the key set outgrows it, and at 100 TB it always does
      BloomJoin
        .bloomSemiJoin(lineitem(s, d), keys, "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"), revenueExpr.as("revenue"))
        .orderBy("l_returnflag")
    },
    Some(
      "SELECT l_returnflag, count(*) AS n_items, " +
        s"$revenueSql AS revenue " +
        "FROM lineitem WHERE l_orderkey IN (" +
        "SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F') " +
        "GROUP BY 1 ORDER BY l_returnflag"
    ),
  )

  // ---------------------------------------------------------------------
  // q187 — bloom-prefiltered ANTI-join: revenue of lineitems whose
  // order is NOT in the urgent key set — the decontamination shape
  // (q75/q117/q149 remove benchmark-tainted training rows the same
  // way: "everything EXCEPT members of this key set"). The bloom can
  // only err toward false POSITIVES, so `NOT mightContain` rows are
  // definitely-clean and BYPASS the join entirely; only the ~member
  // fraction + fpp routes through the exact anti-join
  // ([[BloomJoin.bloomAntiJoin]]'s two-branch union). The oracle is
  // the plain NOT EXISTS — the bloom changes the exchange volume,
  // never the answer.
  //
  // Scale: at 100 TB the anti-join is the EXPENSIVE direction of
  // membership (every clean row — the vast majority — would ride the
  // shuffle in a plain anti-join); the definite-non-member branch
  // turns that majority into a scan-side filter, so the exchange
  // carries only the contaminated-ish sliver. Complements q87, which
  // proves the semi direction.
  val q187: QuerySpec = QuerySpec(
    "q187_bloom_anti_join",
    (s, d) => {
      val keys = orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      BloomJoin
        .bloomAntiJoin(lineitem(s, d), keys, "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"), revenueExpr.as("revenue"))
        .orderBy("l_returnflag")
    },
    Some(
      "SELECT l_returnflag, count(*) AS n_items, " +
        s"$revenueSql AS revenue " +
        "FROM lineitem l WHERE NOT EXISTS (" +
        "SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey " +
        "AND o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'F') " +
        "GROUP BY 1 ORDER BY l_returnflag"
    ),
  )

  // ---------------------------------------------------------------------
  // q90 — robust outlier detection: per order priority, the median and
  // MAD (median absolute deviation) of o_totalprice, and how many
  // orders sit beyond the standard robust z-score gate
  // |x − median| > 3 · 1.4826 · MAD (1.4826 = 1/Φ⁻¹(3/4), the
  // consistency constant that makes MAD estimate σ under normality).
  // Median/MAD is the outlier rule that doesn't break when the
  // outliers themselves poison the estimate — mean/stddev (q07's
  // moments) shift with every extreme row; the 50th percentile
  // doesn't.
  //
  // Determinism: both engines compute the exact linear-interpolation
  // median (Spark `percentile` ≡ DuckDB `quantile_cont`, the q49
  // anchor); the gate compares UNROUNDED doubles identically on both
  // sides, and reported medians round to 6dp (q49's rule).
  //
  // Scale: two grouped exact percentiles (per-group value buffers —
  // the q49 caveat: profiling-grade, with Spark's `percentile_approx`
  // as the sketch-backed 100 TB swap-in) plus broadcast joins of the 5-row
  // stats frames back onto the fact — the fact is scanned three times
  // (median, MAD, gate) but never shuffled: every join side that
  // moves is ≤ one row per group. At 100 TB persist the deviation
  // frame once or switch both percentiles to the approx twin.
  val q90: QuerySpec = QuerySpec(
    "q90_mad_outliers",
    (s, d) => {
      val o = orders(s, d)
      val med = o.groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
      val dev = o.join(broadcast(med), Seq("o_orderpriority"))
        .withColumn("adev", abs(col("o_totalprice") - col("med")))
      // per-priority MAD needs its own grouped percentile pass; the
      // 5-row stats frame then broadcasts back for the outlier gate
      val stats = dev.groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          first(col("med")).as("med_g"),
          expr("percentile(adev, 0.5)").as("mad_raw"),
        )
      dev
        .select("o_orderpriority", "adev")
        .join(broadcast(stats), Seq("o_orderpriority"))
        .groupBy("o_orderpriority")
        .agg(
          first(col("n")).as("n"),
          round(first(col("med_g")), 6).as("median_price"),
          round(first(col("mad_raw")), 6).as("mad"),
          sum(when(col("adev") > lit(3 * 1.4826) * col("mad_raw"), 1L).otherwise(0L))
            .as("n_outliers"),
        )
        .orderBy("o_orderpriority")
    },
    Some(
      "WITH med AS (SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med " +
        "FROM orders GROUP BY 1), " +
        "dev AS (SELECT o.o_orderpriority, abs(o_totalprice - med) AS adev, med " +
        "FROM orders o JOIN med USING (o_orderpriority)), " +
        "mad AS (SELECT o_orderpriority, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1) " +
        "SELECT d.o_orderpriority, count(*) AS n, " +
        "round(any_value(d.med), 6) AS median_price, round(any_value(m.mad), 6) AS mad, " +
        "CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers " +
        "FROM dev d JOIN mad m USING (o_orderpriority) GROUP BY 1 ORDER BY d.o_orderpriority"
    ),
  )

  // ---------------------------------------------------------------------
  // q93 — column profiling: per column of `orders`, the stats every
  // ingestion gate needs — row count, null count, distinct count,
  // min/max — one row per column. This is the operator behind schema
  // drift alarms, optimizer statistics, and "did the upstream export
  // break" checks (the reference's A6 count-validation generalized to
  // per-column shape).
  //
  // Determinism: min/max surface as STRINGS with per-type formatting
  // chosen for cross-engine identity — integers verbatim, money
  // through DECIMAL(18,2) (double→string formatting differs between
  // engines; decimal→string does not), timestamps as epoch millis.
  //
  // Scale: ONE scan — a single wide aggregate computes every column's
  // stats, then explodes to long form (the oracle's UNION ALL rescans
  // per column; the engine must not). The exact countDistincts expand
  // the aggregate per distinct column — the documented 100 TB swap-in
  // is approx_count_distinct, one pass, no expand,
  // mergeable sketches.
  val q93: QuerySpec = QuerySpec(
    "q93_column_profile",
    (s, d) => {
      val o = orders(s, d)
      // (name, min-as-string, max-as-string) per column, formatting by type
      def dec(c: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        f(col(c).cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("string")
      val cols: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column)] = Seq(
        ("o_custkey", min(col("o_custkey")).cast("string"), max(col("o_custkey")).cast("string")),
        // parquet timestamps surface as NTZ; the session TZ is pinned
        // UTC, so the NTZ→LTZ cast under unix_millis is identity
        ("o_orderdate", unix_millis(min(col("o_orderdate")).cast("timestamp")).cast("string"),
          unix_millis(max(col("o_orderdate")).cast("timestamp")).cast("string")),
        ("o_orderkey", min(col("o_orderkey")).cast("string"), max(col("o_orderkey")).cast("string")),
        ("o_orderpriority", min(col("o_orderpriority")), max(col("o_orderpriority"))),
        ("o_orderstatus", min(col("o_orderstatus")), max(col("o_orderstatus"))),
        ("o_totalprice", dec("o_totalprice", min), dec("o_totalprice", max)),
      )
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { case (c, mn, mx) =>
        Seq(
          sum(col(c).isNull.cast("long")).as(s"nulls_$c"),
          countDistinct(col(c)).as(s"distinct_$c"),
          mn.as(s"min_$c"), mx.as(s"max_$c"),
        )
      }
      o.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map { case (c, _, _) =>
          struct(
            lit(c).as("col_name"), col("n_rows"),
            col(s"nulls_$c").as("n_nulls"), col(s"distinct_$c").as("n_distinct"),
            col(s"min_$c").as("min_value"), col(s"max_$c").as("max_value"))
        }: _*)).as("p"))
        .select("p.*")
        .orderBy("col_name")
    },
    Some {
      def row(c: String, mn: String, mx: String) =
        s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
          s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
          s"count(DISTINCT $c) AS n_distinct, $mn AS min_value, $mx AS max_value FROM orders"
      Seq(
        row("o_custkey", "CAST(min(o_custkey) AS VARCHAR)", "CAST(max(o_custkey) AS VARCHAR)"),
        row("o_orderdate", "CAST(epoch_ms(min(o_orderdate)) AS VARCHAR)",
          "CAST(epoch_ms(max(o_orderdate)) AS VARCHAR)"),
        row("o_orderkey", "CAST(min(o_orderkey) AS VARCHAR)", "CAST(max(o_orderkey) AS VARCHAR)"),
        row("o_orderpriority", "min(o_orderpriority)", "max(o_orderpriority)"),
        row("o_orderstatus", "min(o_orderstatus)", "max(o_orderstatus)"),
        row("o_totalprice", "CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)",
          "CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)"),
      ).mkString("", " UNION ALL ", " ORDER BY col_name")
    },
  )

  // ---------------------------------------------------------------------
  // q94 — last-touch attribution: each purchase credits the user's
  // most recent preceding non-purchase event type; purchases with no
  // prior touch credit 'none'. The marketing/product-analytics
  // operator that composes the session family (q27/q56/q57) into a
  // per-conversion channel rollup.
  //
  // Determinism: the window orders by (event time µs, event_id) — a
  // total order (event_id unique), so "most recent preceding" is
  // unambiguous in both engines; `last(..., ignoreNulls)` over the
  // UNBOUNDED-to-1-PRECEDING frame ≡ DuckDB last_value IGNORE NULLS.
  //
  // Scale: one user_id shuffle for the window; the frame walks each
  // partition once (running last, no per-row rescans); rollup keys
  // are the handful of channels.
  val q94: QuerySpec = QuerySpec(
    "q94_last_touch_attribution",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .withColumn("attr",
          last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("attr"), lit("none")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"), countDistinct(col("user_id")).as("n_users"))
        .orderBy("channel")
    },
    Some(
      "WITH a AS (SELECT user_id, event_type, " +
        "last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr FROM events) " +
        "SELECT coalesce(attr, 'none') AS channel, count(*) AS n_purchases, " +
        "count(DISTINCT user_id) AS n_users FROM a WHERE event_type = 'purchase' " +
        "GROUP BY 1 ORDER BY channel"
    ),
  )

  // ---------------------------------------------------------------------
  // q95 — event-path mining: the first three event types of each
  // user's history (time order), rolled up to path frequencies — the
  // "how do journeys start" product-analytics operator that the funnel
  // (q56) answers only for one fixed sequence. Users with fewer than
  // three events keep their shorter prefix (concat_ws skips the
  // missing steps in both engines).
  //
  // Determinism: the prefix is defined over the (epoch µs, event_id)
  // total order (the q94 rule), and each step is extracted with
  // max(CASE WHEN rn = i ...) — a plain aggregate, no collect_list
  // whose intra-group order the shuffle could scramble.
  //
  // Scale: one user_id shuffle for the window; row_number ≤ 3 drops
  // everything else before the path rollup, whose key space is
  // |event_types|³ — bounded, skew-free.
  val q95: QuerySpec = QuerySpec(
    "q95_path_prefixes",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .groupBy("user_id")
        .agg(
          max(when(col("rn") === 1, col("event_type"))).as("e1"),
          max(when(col("rn") === 2, col("event_type"))).as("e2"),
          max(when(col("rn") === 3, col("event_type"))).as("e3"),
        )
        .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_users"))
        .orderBy(desc("n_users"), col("path"))
    },
    Some(
      "WITH r AS (SELECT user_id, event_type, row_number() OVER (" +
        "PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn FROM events), " +
        "p AS (SELECT user_id, concat_ws('>', " +
        "max(CASE WHEN rn = 1 THEN event_type END), " +
        "max(CASE WHEN rn = 2 THEN event_type END), " +
        "max(CASE WHEN rn = 3 THEN event_type END)) AS path " +
        "FROM r WHERE rn <= 3 GROUP BY 1) " +
        "SELECT path, count(*) AS n_users FROM p GROUP BY 1 " +
        "ORDER BY n_users DESC, path"
    ),
  )

  // ---------------------------------------------------------------------
  // q96 — referential-integrity profile: for each FK edge of the star
  // schema, how many child rows point at a missing parent — q93's
  // shape check extended to CROSS-table shape (the reconcile family's
  // J1-J3 joins turned into a data-quality report). All-zero on
  // healthy data; the fixture spec plants orphans to prove the
  // counting.
  //
  // Scale: each edge is one anti-join — child shuffles on its FK,
  // dimensions broadcast when small (Catalyst's call); counting
  // orphan rows and distinct orphan keys in the same aggregate needs
  // no second pass. Edges run as a union of independent 1-row
  // aggregates (no cross-edge dependency, so AQE schedules them
  // concurrently).
  val q96: QuerySpec = QuerySpec(
    "q96_fk_integrity",
    (s, d) => {
      def edge(
          rel: String,
          child: org.apache.spark.sql.DataFrame, fk: String,
          parent: org.apache.spark.sql.DataFrame, pk: String,
      ) = {
        val orphans = child.select(col(fk))
          .join(parent.select(col(pk)), child(fk) === parent(pk), "left_anti")
        orphans.agg(
          count(lit(1)).as("n_orphan_rows"),
          countDistinct(col(fk)).as("n_orphan_keys"),
        ).select(lit(rel).as("fk_edge"), col("n_orphan_rows"), col("n_orphan_keys"))
      }
      val o = orders(s, d); val l = lineitem(s, d)
      edge("customer.c_nationkey->nation", customer(s, d), "c_nationkey", nation(s, d), "n_nationkey")
        .unionByName(edge("lineitem.l_orderkey->orders", l, "l_orderkey", o, "o_orderkey"))
        .unionByName(edge("lineitem.l_partkey->part", l, "l_partkey", part(s, d), "p_partkey"))
        .unionByName(edge("lineitem.l_suppkey->supplier", l, "l_suppkey", supplier(s, d), "s_suppkey"))
        .unionByName(edge("orders.o_custkey->customer", o, "o_custkey", customer(s, d), "c_custkey"))
        .orderBy("fk_edge")
    },
    Some {
      // NOT EXISTS, not NOT IN: NOT IN yields NULL (row excluded) for
      // a NULL FK and zero rows if any parent PK is NULL — anti-join
      // semantics (keep null-keyed children as orphan rows; distinct
      // keys exclude NULL in both engines) need the EXISTS form.
      def row(rel: String, child: String, fk: String, parent: String, pk: String) =
        s"SELECT '$rel' AS fk_edge, count(*) AS n_orphan_rows, " +
          s"count(DISTINCT $fk) AS n_orphan_keys " +
          s"FROM $child c WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE c.$fk = p.$pk)"
      Seq(
        row("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        row("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        row("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        row("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        row("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ).mkString("", " UNION ALL ", " ORDER BY fk_edge")
    },
  )

  // ---------------------------------------------------------------------
  // q97 — conversion latency: per signed-up user, microseconds from
  // first signup to first subsequent purchase; one summary row (how
  // many signed up, how many converted, min/median/max latency). The
  // funnel's (q56) time dimension.
  //
  // Determinism: latencies are exact integer µs (epoch µs both sides,
  // the q94 rule); the median interpolates two integers (q49's
  // percentile ≡ quantile_cont), rounded once. Nulls (never-converted
  // users) are excluded by both engines' aggregate semantics —
  // count(lat) vs count(*) is the conversion-rate pair.
  //
  // Scale: two user-keyed aggregations + one user-keyed join — all on
  // the same uniform key; the final 1-row aggregate is a tree-reduce.
  val q97: QuerySpec = QuerySpec(
    "q97_conversion_latency",
    (s, d) => {
      val ev = events(s, d).select(
        col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      val su = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("us")).as("s0"))
      val conv = ev.where(col("event_type") === "purchase")
        .join(su, Seq("user_id"))
        .where(col("us") >= col("s0"))
        .groupBy("user_id").agg(min(col("us") - col("s0")).as("lat"))
      su.join(conv, Seq("user_id"), "left_outer")
        .agg(
          count(lit(1)).as("n_signups"),
          count(col("lat")).as("n_converted"),
          min(col("lat")).as("min_latency_us"),
          round(expr("percentile(lat, 0.5)"), 4).as("median_latency_us"),
          max(col("lat")).as("max_latency_us"),
        )
    },
    Some(
      "WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), " +
        "su AS (SELECT user_id, min(us) AS s0 FROM ev WHERE event_type = 'signup' GROUP BY 1), " +
        "conv AS (SELECT e.user_id, min(us - s0) AS lat FROM ev e JOIN su USING (user_id) " +
        "WHERE event_type = 'purchase' AND us >= s0 GROUP BY 1) " +
        "SELECT count(*) AS n_signups, count(lat) AS n_converted, min(lat) AS min_latency_us, " +
        "round(quantile_cont(lat, 0.5), 4) AS median_latency_us, max(lat) AS max_latency_us " +
        "FROM su LEFT JOIN conv USING (user_id)"
    ),
  )

  // ---------------------------------------------------------------------
  // q100 — join fan-out profile: the distribution of lineitems per
  // order, INCLUDING zero-fanout orders (left join, not inner — a
  // histogram that silently drops the childless parents misreports
  // the join). This is the statistic a planner (or a human sizing
  // `spark.sql.shuffle.partitions`) needs before joining two tables:
  // max fanout bounds per-key join output, the histogram shape flags
  // skew (q46's salting trigger), and fanout 0 rows are q96's
  // orphan-parent dual.
  //
  // Scale: one child-keyed count (map-side combined), one left join
  // against the parent keys, one tiny histogram aggregate — the
  // histogram key space is max-fanout, not rows.
  val q100: QuerySpec = QuerySpec(
    "q100_fanout_profile",
    (s, d) => {
      val cnt = lineitem(s, d).groupBy("l_orderkey").agg(count(lit(1)).as("fanout"))
      val o = orders(s, d)
      o.select(col("o_orderkey"))
        .join(cnt, o("o_orderkey") === cnt("l_orderkey"), "left_outer")
        .select(coalesce(col("fanout"), lit(0L)).as("fanout"))
        .groupBy("fanout")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("fanout")
    },
    Some(
      "WITH c AS (SELECT l_orderkey, count(*) AS fanout FROM lineitem GROUP BY 1) " +
        "SELECT coalesce(fanout, 0) AS fanout, count(*) AS n_orders " +
        "FROM orders LEFT JOIN c ON o_orderkey = l_orderkey " +
        "GROUP BY 1 ORDER BY fanout"
    ),
  )

  // ---------------------------------------------------------------------
  // q101 — event dedup report: same (user, type) re-occurring within
  // an hour of the PREVIOUS occurrence counts as a duplicate — the
  // at-least-once-delivery hygiene report (retries, double-clicks,
  // replayed batches) that precedes any event-sourced aggregate. The
  // lag-based rule (vs "within 1h of previous KEPT") is the standard
  // stateless form: one window pass, no sequential dependency, and
  // both engines agree exactly on integer-µs gaps.
  //
  // Scale: one (user, type) shuffle for the window; the rollup keys
  // are event types. The streaming twin is StreamingOps' watermarked
  // dropDuplicates — this is its batch audit.
  val DedupWindowUs = 3600L * 1000000L // 1 hour
  val q101: QuerySpec = QuerySpec(
    "q101_event_dedup_report",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("us"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("dup",
          col("prev_us").isNotNull && col("us") - col("prev_us") < DedupWindowUs)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("dup").cast("long")).as("n_dups"),
          sum((!col("dup")).cast("long")).as("n_kept"),
        )
        .orderBy("event_type")
    },
    Some(
      "WITH e AS (SELECT event_type, epoch_us(ts) AS us, " +
        "lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type " +
        "ORDER BY epoch_us(ts), event_id) AS prev_us FROM events) " +
        "SELECT event_type, count(*) AS n_events, " +
        s"CAST(sum(CASE WHEN prev_us IS NOT NULL AND us - prev_us < $DedupWindowUs THEN 1 ELSE 0 END) AS BIGINT) AS n_dups, " +
        s"CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us >= $DedupWindowUs THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
        "FROM e GROUP BY 1 ORDER BY event_type"
    ),
  )

  // ---------------------------------------------------------------------
  // q102 — leading-digit profile (Benford shape check): distribution
  // of the first significant digit of order totals per priority. Real
  // transactional amounts follow a logarithmic digit law; synthetic,
  // truncated, or fabricated data does not — a cheap fraud/synthetic-
  // data detector over any money column (here it correctly exposes
  // this corpus's uniform price generator: digits 1-4 flat, 5+ rare).
  //
  // Determinism: the digit comes from integer string arithmetic
  // (floor → BIGINT → first char), never float formatting; shares are
  // one division rounded once.
  val q102: QuerySpec = QuerySpec(
    "q102_leading_digit_profile",
    (s, d) => {
      val digit = substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
      val counts = orders(s, d)
        .groupBy(col("o_orderpriority"), digit.as("digit"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("o_orderpriority")
      counts
        .withColumn("share", round(col("n").cast("double") / sum(col("n")).over(w), 6))
        .orderBy("o_orderpriority", "digit")
    },
    Some(
      "WITH d AS (SELECT o_orderpriority, " +
        "substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit " +
        "FROM orders), c AS (SELECT o_orderpriority, digit, count(*) AS n FROM d GROUP BY 1, 2) " +
        "SELECT o_orderpriority, digit, n, " +
        "round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY o_orderpriority), 6) AS share " +
        "FROM c ORDER BY o_orderpriority, digit"
    ),
  )

  // ---------------------------------------------------------------------
  // q105 — local-supplier revenue by nation (the TPC-H Q5 shape): for
  // one region, revenue from lineitems whose supplier sits in the
  // customer's own nation — the classic 6-table snowflake with a
  // same-nation join constraint that can't be expressed as a plain
  // star lookup.
  //
  // Scale: region/nation/supplier/customer broadcast (Catalyst's
  // call — dims); the fact spine (orders ⋈ lineitem) is the only
  // shuffle pair; the c_nationkey = s_nationkey constraint rides the
  // supplier join, not a post-filter, so non-local rows drop AT the
  // join. Revenue in exact decimals (the q21 rule).
  val q105: QuerySpec = QuerySpec(
    "q105_local_supplier_revenue",
    (s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(supplier(s, d),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(region(s, d), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "AFRICA")
        .groupBy("n_name")
        .agg(revenueExpr.as("revenue"))
        .orderBy(desc("revenue"), col("n_name")),
    Some(
      s"SELECT n_name, $revenueSql AS revenue " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'AFRICA' GROUP BY 1 ORDER BY revenue DESC, n_name"
    ),
  )

  // ---------------------------------------------------------------------
  // q106 — shipping-priority top-10 (the TPC-H Q3 shape): highest-
  // revenue open orders for one market segment where lineitems shipped
  // after the order date. The segment filter prunes the customer
  // build side BEFORE the fact joins; the top-10 compiles to
  // TakeOrderedAndProject (heap, no global sort of the aggregate).
  val q106: QuerySpec = QuerySpec(
    "q106_shipping_priority",
    (s, d) =>
      customer(s, d).where(col("c_mktsegment") === "BUILDING")
        .join(orders(s, d).where(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"))
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > col("o_orderdate"))
        .groupBy(col("l_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("orderdate_ms"))
        .agg(revenueExpr.as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10),
    Some(
      "SELECT l_orderkey, CAST(epoch_ms(o_orderdate) AS BIGINT) AS orderdate_ms, " +
        s"$revenueSql AS revenue " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O' AND l_shipdate > o_orderdate " +
        "GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10"
    ),
  )

  // ---------------------------------------------------------------------
  // q107 — event-transition matrix: counts of consecutive
  // (previous → current) event-type pairs per user stream — the
  // first-order Markov view of user behavior that q95's path prefixes
  // sample and q56's funnel tests one row of. One lag window on the
  // (epoch µs, event_id) total order, then a bounded |types|² rollup.
  val q107: QuerySpec = QuerySpec(
    "q107_transition_matrix",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("cur"))
        .agg(count(lit(1)).as("n"))
        .orderBy("prev", "cur")
    },
    Some(
      "WITH t AS (SELECT user_id, event_type, lag(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev FROM events) " +
        "SELECT prev, event_type AS cur, count(*) AS n FROM t " +
        "WHERE prev IS NOT NULL GROUP BY 1, 2 ORDER BY prev, cur"
    ),
  )

  // ---------------------------------------------------------------------
  // q108 — rolling 7-day distinct users (WAU per day): the rolling-
  // DISTINCT aggregate that window frames cannot express (a frame can
  // sum, but distinct-across-frame needs the underlying set). Shape:
  // each (day, user) activity row CONTRIBUTES itself to the 7 windows
  // ending on day..day+6 — an executor-local explode — then one
  // distinct count per window day, restricted (semi join) to days
  // that exist in the data so trailing empty windows don't fabricate
  // rows.
  //
  // Scale: explode fan-out is a constant 7×; the distinct count
  // shuffles on (window day, user) — uniform keys; NO range join /
  // nested-loop anywhere (the naive days-BETWEEN-join plan the oracle
  // uses is fine for DuckDB at sf, wrong at 100 TB).
  val q108: QuerySpec = QuerySpec(
    "q108_rolling_wau",
    (s, d) => {
      val act = events(s, d)
        .select(to_date(col("ts").cast("timestamp")).as("day"), col("user_id"))
        .distinct()
      val days = act.select(col("day").as("wday")).distinct()
      act
        .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"), col("user_id"))
        .join(days, Seq("wday"), "left_semi")
        .groupBy("wday")
        .agg(countDistinct(col("user_id")).as("wau"))
        .select(unix_millis(col("wday").cast("timestamp")).as("day_ms"), col("wau"))
        .orderBy("day_ms")
    },
    Some(
      "WITH d AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id FROM events), " +
        "days AS (SELECT DISTINCT day FROM d), " +
        "w AS (SELECT days.day, d.user_id FROM days JOIN d ON d.day BETWEEN days.day - 6 AND days.day) " +
        "SELECT CAST(epoch_ms(CAST(day AS TIMESTAMP)) AS BIGINT) AS day_ms, " +
        "count(DISTINCT user_id) AS wau FROM w GROUP BY 1 ORDER BY day_ms"
    ),
  )

  // ---------------------------------------------------------------------
  // q109 — RFM segmentation: customers bucketed into quartiles of
  // recency (days since last order), frequency, and monetary value —
  // the classic marketing segmentation, reported as segment counts.
  //
  // Determinism: each quartile orders by (measure, custkey) — a TOTAL
  // order, so assignment is identical in both engines (plain ntile
  // ties are assignment-nondeterministic, the q80/q83 lesson).
  //
  // Scale: one customer-keyed aggregation of orders, then ONE
  // [[Ranks.withGlobalRank]] pass — range-shuffled, parallel — over
  // the three measures STACKED into a single frame (explode to
  // (measure_id, value, custkey); descending measures negate their
  // value, which preserves order exactly). Under the total order
  // (measure_id, value, custkey) every row of measure i has exactly
  // i·n rows of earlier measures before it, so the per-measure rank is
  // just global_rank − measure_id·n — three rankings for the fixed
  // cost (boundary sample, shuffle, checkpoint pin, offset pass) of
  // one. ntile(4) is then [[Ranks.ntileFromRank]]'s rank arithmetic.
  // The customer frame grows linearly with the business, so the
  // earlier unpartitioned-ntile form (one task sorting every customer,
  // three times) was the q67 bottleneck at 100 TB; the rank form keeps
  // every sort partitioned while reproducing SQL ntile bit-for-bit
  // (the oracle below is still plain ntile). The corpus-max date and
  // the customer count ride 1-row cross joins (the q79 rule), never a
  // driver collect.
  val q109: QuerySpec = QuerySpec(
    "q109_rfm_segments",
    (s, d) => {
      val o = orders(s, d)
      val c = o.groupBy("o_custkey").agg(
        max(col("o_orderdate")).as("last_o"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("monetary"),
      )
      val mx = o.agg(max(col("o_orderdate")).as("mx"))
      val scored = c.crossJoin(mx) // 1-row corpus max
        .withColumn("rec_days",
          datediff(col("mx").cast("date"), col("last_o").cast("date")).cast("long"))
      val n = scored.agg(count(lit(1)).as("__n")) // 1-row customer count
      // stack: r = rec_days asc, f = freq desc, m = monetary desc
      // (negation ≡ descending — no NaN/±0 among these measures)
      val stacked = scored.select(
        col("o_custkey"),
        explode(array(
          struct(lit(0L).as("mid"), col("rec_days").cast("double").as("v")),
          struct(lit(1L).as("mid"), (-col("freq")).cast("double").as("v")),
          struct(lit(2L).as("mid"), (-col("monetary")).cast("double").as("v")),
        )).as("e"))
        .select(col("o_custkey"), col("e.mid").as("mid"), col("e.v").as("v"))
      Ranks.withGlobalRank(stacked, Seq(col("mid"), col("v"), col("o_custkey")), "grank")
        .crossJoin(n)
        .withColumn("bucket",
          Ranks.ntileFromRank(col("grank") - col("mid") * col("__n"), col("__n"), 4))
        .groupBy("o_custkey")
        .agg(
          max(when(col("mid") === 0L, col("bucket"))).as("r"),
          max(when(col("mid") === 1L, col("bucket"))).as("f"),
          max(when(col("mid") === 2L, col("bucket"))).as("m"))
        .groupBy("r", "f", "m")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("r", "f", "m")
    },
    Some(
      "WITH c AS (SELECT o_custkey, " +
        "date_diff('day', max(o_orderdate), (SELECT max(o_orderdate) FROM orders)) AS rec_days, " +
        "count(*) AS freq, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary " +
        "FROM orders GROUP BY 1), " +
        "s AS (SELECT o_custkey, " +
        "ntile(4) OVER (ORDER BY rec_days, o_custkey) AS r, " +
        "ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f, " +
        "ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m FROM c) " +
        "SELECT r, f, m, count(*) AS n_customers FROM s GROUP BY 1, 2, 3 ORDER BY r, f, m"
    ),
  )

  // ---------------------------------------------------------------------
  // q110 — basket affinity: part pairs co-occurring in the same order
  // at support ≥ 2 — market-basket mining's candidate table (q79's
  // collocation shape transplanted from token adjacency to order
  // membership).
  //
  // Scale: the self-join fans out within an order only — output
  // bounded by Σ basket_size², and basket size is physically bounded
  // (an order has few lines); pair keys are uniform. The distinct
  // first (a part twice in one order counts once) keeps the pair
  // count a true order count.
  val q110: QuerySpec = QuerySpec(
    "q110_basket_affinity",
    (s, d) => {
      val li = lineitem(s, d).select("l_orderkey", "l_partkey").distinct()
      li.as("a")
        .join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") && col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .where(col("n_orders") >= 2)
        .orderBy(desc("n_orders"), col("part_a"), col("part_b"))
    },
    Some(
      "WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) " +
        "SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders " +
        "FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY n_orders DESC, part_a, part_b"
    ),
  )

  // ---------------------------------------------------------------------
  // q112 — correlated scalar subquery (TPC-H Q17, "small-quantity-order
  // revenue"): revenue/7 of brand lineitems whose quantity is below 20%
  // of that PART's average quantity. The classic decorrelation shape:
  // declared with the DataFrame-native subquery API
  // (`Dataset.scalar()` + `Column.outer()`, Spark 4's public surface
  // for exactly this), and Catalyst's RewriteCorrelatedScalarSubquery
  // turns the per-row subquery into ONE per-part aggregate joined back
  // — the plan a hand-decorrelated groupBy+join would produce, from
  // the declarative form. PLANS.md pins that no per-row re-execution
  // survives in the physical plan.
  //
  // Determinism: l_quantity is integer-valued, so each part's
  // avg = exact-integer-sum / count is the same IEEE double in both
  // engines regardless of row order; the 0.2· threshold compares
  // unrounded (the q79/q90 rule). Revenue sums in DECIMAL(18,2), one
  // rounded division at the end.
  //
  // Scale: the decorrelated aggregate shuffles lineitem once on
  // l_partkey (uniform keys); the brand dimension filter broadcasts.
  // Nothing re-executes per row — that is the point of the shape.
  val q112: QuerySpec = QuerySpec(
    "q112_small_quantity_revenue",
    (s, d) => {
      // the inner frame stays UN-analyzed until scalar() plants it in
      // the outer plan (LazyExpression defers analysis); `select` with
      // an aggregate keeps it lazy where `.agg` would force analysis
      // and fail on the not-yet-scoped outer reference
      val thr = lineitem(s, d)
        .where(col("l_partkey") === col("p_partkey").outer())
        .select((lit(0.2) * avg(col("l_quantity"))).as("thr"))
      lineitem(s, d)
        .join(part(s, d).where(col("p_brand") === "Brand#4"),
          col("l_partkey") === col("p_partkey"))
        .where(col("l_quantity") < thr.scalar())
        .agg(round(dsum("l_extendedprice") / 7.0, 6).as("avg_yearly"))
    },
    Some(
      "SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE p_brand = 'Brand#4' " +
        "AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"
    ),
  )

  // ---------------------------------------------------------------------
  // q124 — national market share (the TPC-H Q8 shape): of all ECONOMY-
  // part revenue sold to ASIA customers, the share supplied by
  // NATION_2's suppliers, per order year. The shape's point is the
  // DOUBLE-ROLE dimension: nation joins twice under different keys
  // (customer's nation gates the region filter, supplier's nation is
  // the share dimension) — the aliasing test every star-schema
  // planner must pass.
  //
  // Scale: region/nation/part/supplier/customer all broadcast
  // (Catalyst's call — dims); the orders⋈lineitem spine is the one
  // shuffle pair, and both the region gate and the part-type filter
  // prune fact rows AT their joins. Share lands as exact-decimal
  // numerator/denominator plus floor-basis-points — the division
  // happens once, on identical doubles, after all aggregation.
  val q124: QuerySpec = QuerySpec(
    "q124_market_share",
    (s, d) => {
      val cn = nation(s, d).select(
        col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region"))
      val sn = nation(s, d).select(
        col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val rev = customer(s, d)
        .join(cn, col("c_nationkey") === col("cn_key"))
        .join(region(s, d), col("cn_region") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .join(orders(s, d), col("o_custkey") === col("c_custkey"))
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(part(s, d).where(col("p_type") === "ECONOMY"),
          col("p_partkey") === col("l_partkey"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("order_year"), col("supp_nation"))
        .agg(revenueDecimal.as("r"))
      rev.groupBy("order_year")
        .agg(
          sum(when(col("supp_nation") === "NATION_2", col("r"))
            .otherwise(lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 2)))).as("nat_dec"),
          sum(col("r")).as("tot_dec"))
        .select(
          col("order_year"),
          col("nat_dec").cast("double").as("nation_rev"),
          col("tot_dec").cast("double").as("total_rev"),
          floor(col("nat_dec").cast("double") * 10000 / col("tot_dec").cast("double"))
            .cast("long").as("share_bp"))
        .orderBy("order_year")
    },
    Some(
      "WITH rev AS (SELECT year(o_orderdate) AS order_year, sn.n_name AS supp_nation, " +
        s"$revenueDecimalSql AS r " +
        "FROM customer JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "JOIN region ON cn.n_regionkey = r_regionkey " +
        "JOIN orders ON o_custkey = c_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "JOIN part ON p_partkey = l_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "WHERE region.r_name = 'ASIA' AND p_type = 'ECONOMY' GROUP BY 1, 2) " +
        "SELECT order_year, " +
        "CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN r ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_rev, " +
        "CAST(sum(r) AS DOUBLE) AS total_rev, " +
        "CAST(floor(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN r ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) " +
        "* 10000 / CAST(sum(r) AS DOUBLE)) AS BIGINT) AS share_bp " +
        "FROM rev GROUP BY 1 ORDER BY 1"
    ),
  )

  // ---------------------------------------------------------------------
  // q129 — Pareto frontier (2-D skyline): parts not dominated on
  // (price low, size high); q dominates p iff q.price ≤ p.price and
  // q.size ≥ p.size with one strict. The oracle is the textbook
  // NOT-EXISTS dominance test — O(n²) by definition; the Spark plan
  // is the two-phase distributed skyline: a LOCAL skyline per hash
  // block (any point dominated within its block is dominated
  // globally — safe to prune), then the same pass over the ~|blocks ×
  // local-frontier| survivors. Within a pass, dominance needs no
  // point-to-point comparison — two prefix extrema suffice:
  // dominated(p,s) ⇔ max{size : earlier in (price↑, size↓) order} > s
  // (a strict-size dominator at price ≤ p)  ∨  min{price : same size,
  // earlier in price↑ order} < p (an equal-size strictly-cheaper
  // dominator). Exact duplicates survive both tests — correct, they
  // don't dominate each other. Per-block windows parallelize phase 1;
  // phase 2's single partition holds only local-skyline survivors
  // (~blocks · O(log n) for distributed data; degenerate
  // all-on-frontier inputs are the documented exception, as q78's
  // vocabulary note). The whole query is a linear pipeline — one part
  // scan, four windows, no join, nothing referenced twice.
  val q129: QuerySpec = QuerySpec(
    "q129_pareto_frontier",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      def pass(pts: DataFrame, blk: Column): DataFrame = {
        val prev = Window.partitionBy("blk")
          .orderBy(col("price"), desc("size"), col("p_partkey"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val prevSameSize = Window.partitionBy("blk", "size")
          .orderBy(col("price"), col("p_partkey"))
          .rowsBetween(Window.unboundedPreceding, -1)
        pts.withColumn("blk", blk)
          .withColumn("m1", max("size").over(prev))
          .withColumn("m2", min("price").over(prevSameSize))
          .where(!(coalesce(col("m1") > col("size"), lit(false)) ||
            coalesce(col("m2") < col("price"), lit(false))))
          .select("p_partkey", "price", "size")
      }
      val pts = part(s, d).select(col("p_partkey"),
        col("p_retailprice").as("price"), col("p_size").as("size"))
      pass(pass(pts, pmod(hash(col("p_partkey")), lit(32))), lit(0))
        .orderBy("p_partkey")
    },
    Some(
      "SELECT p.p_partkey, p.p_retailprice AS price, p.p_size AS size FROM part p " +
        "WHERE NOT EXISTS (SELECT 1 FROM part q " +
        "WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size " +
        "AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)) " +
        "ORDER BY p_partkey"
    ),
  )

  // ---------------------------------------------------------------------
  // q132 — disjunctive join predicates (the TPC-H Q19 shape): revenue
  // from three (brand, size-range, quantity-range) branches OR'd
  // together across the lineitem⋈part equi-join. The shape exists to
  // exercise — and pin — the optimizer path the other join queries
  // never touch: a top-level OR whose conjuncts mix both tables'
  // columns. Catalyst's CNF conversion extracts the per-table
  // disjunctions (the quantity-range OR reaches the lineitem scan,
  // the brand/size OR the part scan) so each side prunes BEFORE the
  // join, while the equi-key keeps the join a hash join — without
  // CNF extraction every branch's rows survive to the join and the
  // filter runs post-join. Plan-pinned in QueryPlanSpec: both scans
  // carry pushed disjunctions; the join stays BroadcastHashJoin.
  //
  // Scale: the selective scan-level ORs are the entire story — at
  // 100 TB the three branches select ~2% of the fact, and pushing
  // the OR to parquet row-groups (min/max on l_quantity) is the
  // difference between scanning 2 TB and 100 TB.
  val q132: QuerySpec = QuerySpec(
    "q132_disjunctive_branches",
    (s, d) =>
      lineitem(s, d)
        .join(part(s, d), col("p_partkey") === col("l_partkey"))
        .where(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(10, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#4" && col("p_size").between(20, 35) &&
            col("l_quantity").between(20, 30)))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"), revenueExpr.as("revenue"))
        .orderBy("p_brand"),
    Some(
      s"SELECT p_brand, count(*) AS n_items, $revenueSql AS revenue " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_brand = 'Brand#4' AND p_size BETWEEN 20 AND 35 AND l_quantity BETWEEN 20 AND 30) " +
        "GROUP BY 1 ORDER BY p_brand"
    ),
  )

  // ---------------------------------------------------------------------
  // q133 — outer-join distribution (the TPC-H Q13 shape): how many
  // customers placed 0, 1, 2, … urgent orders in 1995. The zero
  // bucket is the point: an inner join CANNOT produce it, so the
  // plan's correctness hinges on left-outer + count(column) — which
  // counts only NON-NULL order keys, turning unmatched customers into
  // c_count = 0 instead of 1. The order filter pre-applies to the
  // right side before the join (equivalent to Q13's ON-clause
  // placement, and what lets the filter push into the orders scan —
  // an ON-side filter of an outer join can't push past the join).
  //
  // Scale: both aggregations key on bounded-cardinality columns
  // (custkey, then the tiny count domain) and combine map-side; the
  // one shuffle pair is customer⋈orders on custkey. The final
  // ORDER BY (custdist, c_count) is total — c_count is unique per
  // row — so the output hash is stable.
  val q133: QuerySpec = QuerySpec(
    "q133_customer_distribution",
    (s, d) => {
      val urgent = orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01")
        .select("o_custkey", "o_orderkey")
      customer(s, d).select("c_custkey")
        .join(urgent, col("o_custkey") === col("c_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },
    Some(
      "WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count " +
        "FROM customer LEFT JOIN orders ON o_custkey = c_custkey " +
        "AND o_orderpriority = '1-URGENT' " +
        "AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01' " +
        "GROUP BY 1) " +
        "SELECT c_count, count(*) AS custdist FROM co GROUP BY 1 " +
        "ORDER BY custdist DESC, c_count DESC"
    ),
  )

  // ---------------------------------------------------------------------
  // q144 — association rules over q110's co-purchase pairs: support,
  // confidence, and lift for part pairs sharing ≥ 2 orders, top-20 by
  // lift. q110 stops at the co-occurrence COUNT; the rule metrics are
  // what make it actionable — lift > 1 means the pair co-occurs more
  // than independence predicts, which is the recommender/market-basket
  // signal, and confidence is the directed "if a then b" strength.
  //
  // Determinism: all three metrics are ratios of integer counts,
  // emitted as floored basis points — lift_bp = (10⁴·n_ab·N) div
  // (n_a·n_b) — so no float ever forms; the top-20 order is total
  // (lift desc, pa, pb).
  //
  // Scale: the pair table is q110's plan (distinct per-order baskets,
  // self-join fanning out WITHIN an order only — Σ basket² bounded by
  // physical basket size); the per-part counts attach by two joins on
  // the pair's own keys (part-dimension sized, shuffle-joined — at
  // catalog scale neither side needs to fit in memory); the 1-row
  // order total rides a cross join. Top-20 is TakeOrderedAndProject.
  val q144: QuerySpec = QuerySpec(
    "q144_association_rules",
    (s, d) => {
      // five consumers (both self-join sides, two per-part count
      // joins, the order total) — checkpoint so the fact-sized
      // distinct materializes ONCE instead of five scan+shuffle runs
      val basket = lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
        .pinLineage()
      val perPart = basket.groupBy("p").agg(count(lit(1)).as("np")).pinLineage()
      val total = basket.agg(countDistinct("o").as("total"))
      basket.as("a")
        .join(basket.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
        .agg(count(lit(1)).as("nab"))
        .where(col("nab") >= 2)
        .crossJoin(total) // 1-row anchor
        .join(perPart.select(col("p").as("ka"), col("np").as("n_a")), col("pa") === col("ka"))
        .join(perPart.select(col("p").as("kb"), col("np").as("n_b")), col("pb") === col("kb"))
        .select(
          col("pa"), col("pb"), col("nab"), col("n_a"), col("n_b"),
          expr("(10000 * nab * total) div (n_a * n_b)").as("lift_bp"),
          expr("(10000 * nab) div n_a").as("conf_bp"))
        .orderBy(desc("lift_bp"), col("pa"), col("pb"))
        .limit(20)
    },
    Some(
      "WITH basket AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "nn AS (SELECT p, count(*) AS np FROM basket GROUP BY 1), " +
        "tot AS (SELECT count(DISTINCT o) AS total FROM basket), " +
        "pairs AS (SELECT a.p AS pa, b.p AS pb, count(*) AS nab FROM basket a " +
        "JOIN basket b ON a.o = b.o AND a.p < b.p GROUP BY 1,2 HAVING count(*) >= 2) " +
        "SELECT pa, pb, nab, na.np AS n_a, nb.np AS n_b, " +
        "CAST((10000 * nab * total) // (na.np * nb.np) AS BIGINT) AS lift_bp, " +
        "CAST((10000 * nab) // na.np AS BIGINT) AS conf_bp " +
        "FROM pairs, tot JOIN nn na ON na.p = pa JOIN nn nb ON nb.p = pb " +
        "ORDER BY lift_bp DESC, pa, pb LIMIT 20"
    ),
  )

  // ---------------------------------------------------------------------
  // q147 — Gini concentration of customer revenue per nation, exact.
  // The inequality statistic behind "is our revenue concentrated in a
  // few whales": G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) with xᵢ ascending —
  // 0 = perfectly even, →1 = one customer is everything.
  //
  // Determinism: revenue is exact cents; the rank i is a row_number
  // under the TOTAL order (cents, custkey); numerator and denominator
  // stay in DECIMAL(38,0) and the single division is floored basis
  // points on non-negative operands (the numerator is ≥ 0 for any
  // ascending ordering).
  //
  // Scale: the rank is the q109 machinery, NOT a per-nation window —
  // customers grow linearly with the business, so a per-nation
  // row_number window would sort each nation's millions of customers
  // in one task. Ranks.withGlobalRank range-partitions the total
  // (nation, cents, custkey) order; the within-nation rank is then
  // global_rank − the nation's offset, where offsets come from the
  // 25-row per-nation count table (broadcast). Moment sums partial-agg.
  val q147: QuerySpec = QuerySpec(
    "q147_gini_concentration",
    (s, d) => {
      val big = DecimalType(38, 0)
      val rev = customer(s, d)
        .join(orders(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"), col("c_custkey").as("ck"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(big).as("cents"))
      // checkpoint: the rank frame feeds both the offset aggregate and
      // the moment sums — without it the rank assignment re-runs per
      // consumer. Nation offset = the nation's min global rank − 1 (the
      // order leads with nk, so each nation's ranks are contiguous) — a
      // map-side-combined 25-row aggregate, no unpartitioned window.
      val ranked = Ranks.withGlobalRank(
        rev, Seq(col("nk").asc, col("cents").asc, col("ck").asc), "grk")
        .pinLineage()
      val offs = ranked.groupBy(col("nk").as("onk")).agg((min(col("grk")) - 1).as("off"))
      ranked
        .join(broadcast(offs), col("nk") === col("onk"))
        .withColumn("i", (col("grk") - col("off")).cast(big))
        .groupBy("nk")
        .agg(
          count(lit(1)).cast(big).as("n"),
          sum("cents").as("sx"),
          sum(col("i") * col("cents")).as("six"))
        .where(col("sx") > 0 && col("n") >= 2)
        .select(
          col("nk"),
          col("n").cast("long").as("n_customers"),
          expr("CAST((10000 * (2*six - (n+1)*sx)) div (n * sx) AS BIGINT)").as("gini_bp"))
        .orderBy("nk")
    },
    Some(
      "WITH rev AS (SELECT c.c_nationkey AS nk, c.c_custkey AS ck, " +
        "CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS DECIMAL(38,0)) AS cents " +
        "FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey GROUP BY 1, 2), " +
        "rk AS (SELECT nk, cents, CAST(row_number() OVER (PARTITION BY nk ORDER BY cents, ck) AS DECIMAL(38,0)) AS i FROM rev), " +
        "s AS (SELECT nk, count(*) AS n, sum(cents) AS sx, sum(i * cents) AS six FROM rk GROUP BY 1) " +
        "SELECT nk, CAST(n AS BIGINT) AS n_customers, " +
        "CAST(CAST(10000 * (2*six - (n+1)*sx) AS HUGEINT) // CAST(n * sx AS HUGEINT) AS BIGINT) AS gini_bp " +
        "FROM s WHERE sx > 0 AND n >= 2 ORDER BY nk"
    ),
  )

  // ---------------------------------------------------------------------
  // q148 — k-anonymity audit over customer quasi-identifiers (nation,
  // market segment, account balance in truncated thousands): for each
  // k ∈ {2, 5, 10}, how many equivalence classes and rows fall below
  // the anonymity threshold. The privacy gate a dataset must pass
  // before release — a class of size 1 is a re-identifiable person.
  //
  // Determinism: the balance bucket is exact cents div 100 000
  // (truncation toward zero in both engines — a bucket-edge knob, not
  // a correctness hazard, as long as both sides share it); everything
  // else is integer counts.
  //
  // Scale: ONE groupBy over the quasi-identifier tuple (key space =
  // the product of the identifier domains, bounded ≪ rows), then the
  // 3-way k explode runs on the CLASS table, not the rows — the
  // per-k report re-aggregates classes, so the fact is touched once.
  val q148: QuerySpec = QuerySpec(
    "q148_k_anonymity",
    (s, d) => {
      val eq = customer(s, d)
        .select(
          col("c_nationkey").as("nk"),
          col("c_mktsegment").as("seg"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) div 100000").as("bal_k"))
        .groupBy("nk", "seg", "bal_k")
        .agg(count(lit(1)).as("sz"))
      eq.select(col("sz"), explode(array(lit(2L), lit(5L), lit(10L))).as("k"))
        .groupBy("k")
        .agg(
          sum(when(col("sz") < col("k"), 1L).otherwise(0L)).as("classes_at_risk"),
          sum(when(col("sz") < col("k"), col("sz")).otherwise(0L)).as("rows_at_risk"),
          count(lit(1)).as("classes_total"))
        .orderBy("k")
    },
    Some(
      "WITH q AS (SELECT c_nationkey AS nk, c_mktsegment AS seg, " +
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000 AS bal_k FROM customer), " +
        "eq AS (SELECT nk, seg, bal_k, count(*) AS sz FROM q GROUP BY 1,2,3) " +
        "SELECT k.k, CAST(count(*) FILTER (WHERE sz < k.k) AS BIGINT) AS classes_at_risk, " +
        "CAST(coalesce(sum(sz) FILTER (WHERE sz < k.k), 0) AS BIGINT) AS rows_at_risk, " +
        "CAST(count(*) AS BIGINT) AS classes_total " +
        "FROM eq, (SELECT unnest([2,5,10]) AS k) k GROUP BY 1 ORDER BY k"
    ),
  )

  // ---------------------------------------------------------------------
  // q154 — rank (quantile) normalization: every lineitem price maps to
  // its GLOBAL percentile (floored bp under the total (price, orderkey,
  // linenumber) order), then per return flag the mean normalized rank.
  // The distribution-free location comparison (a Kruskal–Wallis-style
  // rank statistic): a flag whose mean_bp sits above 5000 sells at
  // systematically higher prices, with no distributional assumption
  // and no float — and rank normalization itself is the
  // feature-scaling step models want at 100 TB, where it must not be
  // a single-task sort.
  //
  // Scale: the global rank is Ranks.withGlobalRank (range-partitioned,
  // the q109/q147 machinery — this query applies it to the FACT, its
  // largest deployment); the 1-row N anchor rides a cross join; the
  // per-flag rollup partial-aggs. Σbp per group ≤ N·10⁴ — long-safe
  // to 10¹⁴ rows.
  val q154: QuerySpec = QuerySpec(
    "q154_rank_normalize",
    (s, d) => {
      val base = lineitem(s, d).select(
        col("l_returnflag").as("flag"),
        col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      val n = base.agg(count(lit(1)).as("n"))
      Ranks.withGlobalRank(
        base,
        Seq(col("l_extendedprice").asc, col("l_orderkey").asc, col("l_linenumber").asc),
        "rk")
        .crossJoin(n) // 1-row anchor
        .select(col("flag"), expr("(10000 * rk) div n").as("bp"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n_items"), expr("CAST(sum(bp) div count(1) AS BIGINT)").as("mean_bp"))
        .orderBy("flag")
    },
    Some(
      "WITH r AS (SELECT l_returnflag AS flag, " +
        "row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rk, " +
        "count(*) OVER () AS n FROM lineitem), " +
        "b AS (SELECT flag, (10000 * rk) // n AS bp FROM r) " +
        "SELECT flag, count(*) AS n_items, CAST(sum(bp) // count(*) AS BIGINT) AS mean_bp " +
        "FROM b GROUP BY 1 ORDER BY flag"
    ),
  )

  // ---------------------------------------------------------------------
  // q155 — A/B experiment report with data-adaptive conversion: users
  // hash-assigned to arms (the q65 reproducibility rule — assignment
  // is a pure function of user_id, stable across reruns and data
  // growth), conversion = strictly above-average purchase count (the
  // q115 exact-scalar rule: np·U > T, never a float mean), output one
  // row of arm sizes, conversion rates, and B-over-A lift in floored
  // bp. The experimentation primitive: assignment, outcome, and
  // effect size in one deterministic pass.
  //
  // Scale: per-user purchase counts partial-agg; the (U, T) anchor is
  // 1 row via cross join; arms aggregate to TWO rows that meet in a
  // 1×1 join — nothing after the per-user aggregate depends on data
  // volume.
  val q155: QuerySpec = QuerySpec(
    "q155_ab_lift",
    (s, d) => {
      val ev = events(s, d)
      val arms = ev.select(col("user_id")).distinct()
        .withColumn(
          "arm",
          when(substring(md5(concat(lit("graft-ab:"), col("user_id").cast("string"))), 1, 2) < "80", "A")
            .otherwise("B"))
      val perUser = ev.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("np"))
      val anchor = arms.agg(count(lit(1)).as("n_users_t"))
        .crossJoin(ev.where(col("event_type") === "purchase").agg(count(lit(1)).as("total")))
      // both arms in ONE conditional aggregate — an arm-filtered
      // self-join would recompute the per-user chain per consumer
      arms
        .join(perUser, Seq("user_id"), "left_outer")
        .crossJoin(anchor) // 1-row anchor
        .withColumn("conv",
          when(coalesce(col("np"), lit(0L)) * col("n_users_t") > col("total"), 1L).otherwise(0L))
        .agg(
          sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === "A", col("conv")).otherwise(0L)).as("conv_a"),
          sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === "B", col("conv")).otherwise(0L)).as("conv_b"))
        .select(
          col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          expr("(10000 * conv_a) div n_a").as("cr_a_bp"),
          expr("(10000 * conv_b) div n_b").as("cr_b_bp"),
          expr("(10000 * conv_b * n_a) div (conv_a * n_b)").as("lift_bp"))
    },
    Some(
      "WITH u AS (SELECT DISTINCT user_id FROM events), " +
        "arm AS (SELECT user_id, CASE WHEN substring(md5('graft-ab:' || CAST(user_id AS VARCHAR)), 1, 2) < '80' THEN 'A' ELSE 'B' END AS arm FROM u), " +
        "p AS (SELECT user_id, count(*) AS np FROM events WHERE event_type = 'purchase' GROUP BY 1), " +
        "t AS (SELECT count(*) AS n_users, (SELECT count(*) FROM events WHERE event_type = 'purchase') AS total FROM u), " +
        "conv AS (SELECT a.user_id FROM arm a JOIN p ON p.user_id = a.user_id, t WHERE p.np * t.n_users > t.total), " +
        "agg AS (SELECT arm, count(*) AS n_users, count(c.user_id) AS n_conv " +
        "FROM arm a LEFT JOIN conv c ON c.user_id = a.user_id GROUP BY 1) " +
        "SELECT a.n_users AS n_a, a.n_conv AS conv_a, b.n_users AS n_b, b.n_conv AS conv_b, " +
        "CAST((10000 * a.n_conv) // a.n_users AS BIGINT) AS cr_a_bp, " +
        "CAST((10000 * b.n_conv) // b.n_users AS BIGINT) AS cr_b_bp, " +
        "CAST((10000 * b.n_conv * a.n_users) // (a.n_conv * b.n_users) AS BIGINT) AS lift_bp " +
        "FROM (SELECT * FROM agg WHERE arm = 'A') a, (SELECT * FROM agg WHERE arm = 'B') b"
    ),
  )

  // ---------------------------------------------------------------------
  // q158 — Mann–Whitney rank-sum test (exact): U statistic and
  // rank-biserial effect size for returned (A) vs refused (R)
  // lineitem prices. The hypothesis-testing family's representative —
  // q154 describes locations, this is the two-sample COMPARISON the
  // distribution-free test literature builds on, and the rank
  // machinery makes it exact at any scale: U_A = R_A − n_A(n_A+1)/2
  // over the global rank, rank-biserial = 2U/(n_A·n_R) − 1 in floored
  // bp. Everything integer; the DuckDB oracle divides in HUGEINT
  // (§7.0 — its DECIMAL `//` routes through DOUBLE).
  //
  // Scale: one Ranks pass over the two-flag subset (range-partitioned,
  // no single-task sort), then a SINGLE conditional aggregate to one
  // row. (rk, counts) all DECIMAL(38,0): R_A ≤ N² needs N ≤ 10¹⁹.
  val q158: QuerySpec = QuerySpec(
    "q158_rank_sum_test",
    (s, d) => {
      val big = DecimalType(38, 0)
      val f = lineitem(s, d)
        .where(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      Ranks.withGlobalRank(
        f, Seq(col("l_extendedprice").asc, col("l_orderkey").asc, col("l_linenumber").asc), "rk")
        .agg(
          sum(when(col("flag") === "A", col("rk")).otherwise(0L)).cast(big).as("ra"),
          sum(when(col("flag") === "A", 1L).otherwise(0L)).cast(big).as("na"),
          sum(when(col("flag") === "R", 1L).otherwise(0L)).cast(big).as("nr"))
        .withColumn("u_a", col("ra") - expr("(na * (na + 1)) div 2"))
        .select(
          col("na").cast("long").as("n_a"),
          col("nr").cast("long").as("n_r"),
          col("u_a").cast("long").as("u_a"),
          expr("CAST((10000 * 2 * u_a) div (na * nr) - 10000 AS BIGINT)")
            .as("rank_biserial_bp"))
    },
    Some(
      "WITH f AS (SELECT l_returnflag AS flag, l_extendedprice, l_orderkey, l_linenumber " +
        "FROM lineitem WHERE l_returnflag IN ('A', 'R')), " +
        "r AS (SELECT flag, row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rk FROM f), " +
        "s AS (SELECT CAST(sum(CASE WHEN flag = 'A' THEN rk ELSE 0 END) AS HUGEINT) AS ra, " +
        "CAST(sum(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS HUGEINT) AS na, " +
        "CAST(sum(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS nr FROM r), " +
        "u AS (SELECT na, nr, ra - (na * (na + 1)) // 2 AS ua FROM s) " +
        "SELECT CAST(na AS BIGINT) AS n_a, CAST(nr AS BIGINT) AS n_r, CAST(ua AS BIGINT) AS u_a, " +
        "CAST((10000 * 2 * ua) // (na * nr) - 10000 AS BIGINT) AS rank_biserial_bp FROM u"
    ),
  )

  // ---------------------------------------------------------------------
  // q159 — independence deviation (chi-square contributions): the
  // event_type × weekday contingency table with each cell's scaled
  // deviation from independence (O·N − row·col) and its floored-milli
  // χ² contribution. The "is usage day-of-week dependent, and WHICH
  // cell drives it" diagnostic — the test statistic family where the
  // deviation signs matter as much as the total.
  //
  // Determinism: weekday is epoch-day mod 7 (0 = Thursday) — Spark's
  // dayofweek is 1-based Sunday, DuckDB's 0-based Sunday; the mod-7
  // form is engine-free. Each cell's contribution floors SEPARATELY
  // ((O·N−rc)²·10³ div (rc·N), non-negative) — a defined statistic,
  // identical integer ops both sides; HUGEINT oracle division.
  //
  // Scale: one groupBy to the |types|×7 contingency frame; margins
  // are windows over that bounded frame (q78-exception). DECIMAL(38,0)
  // bound: (O·N)² caps N at ~10⁹ cells-dominant corpora — beyond,
  // bucket counts in thousands (the q122/q134 resolution-knob note).
  val q159: QuerySpec = QuerySpec(
    "q159_chi_square_cells",
    (s, d) => {
      val big = DecimalType(38, 0)
      events(s, d)
        .groupBy(
          col("event_type").as("ty"),
          pmod(unix_date(col("ts").cast("date")), lit(7)).cast("long").as("dow"))
        .agg(count(lit(1)).cast(big).as("obs"))
        .withColumn("rt", sum("obs").over(Window.partitionBy("ty")))
        .withColumn("ct", sum("obs").over(Window.partitionBy("dow")))
        .withColumn("n", sum("obs").over(Window.partitionBy()))
        .select(
          col("ty"), col("dow"), col("obs").cast("long").as("obs"),
          (col("obs") * col("n") - col("rt") * col("ct")).cast("long").as("dev_scaled"),
          expr("CAST((1000 * (obs*n - rt*ct) * (obs*n - rt*ct)) div (rt * ct * n) AS BIGINT)")
            .as("chi2_contrib_milli"))
        .orderBy("ty", "dow")
    },
    Some(
      "WITH o AS (SELECT event_type AS ty, datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS dow, " +
        "count(*) AS obs FROM events GROUP BY 1, 2), " +
        "m AS (SELECT ty, dow, obs, sum(obs) OVER (PARTITION BY ty) AS rt, " +
        "sum(obs) OVER (PARTITION BY dow) AS ct, sum(obs) OVER () AS n FROM o) " +
        "SELECT ty, CAST(dow AS BIGINT) AS dow, CAST(obs AS BIGINT) AS obs, " +
        "CAST(obs * n - rt * ct AS BIGINT) AS dev_scaled, " +
        "CAST(CAST(1000 * (obs*n - rt*ct) * (obs*n - rt*ct) AS HUGEINT) // CAST(rt * ct * n AS HUGEINT) AS BIGINT) AS chi2_contrib_milli " +
        "FROM m ORDER BY ty, dow"
    ),
  )

  // ---------------------------------------------------------------------
  // q160 — promo revenue share per ship month (the TPC-H Q14 shape):
  // what fraction of each month's revenue came from PROMO-type parts.
  // The conditional-aggregate percentage — one fact pass computes both
  // the numerator and the denominator, never two scans reconciled by a
  // join (reference A7's rollup discipline applied to a ratio).
  //
  // Determinism: revenue rides [[Exact.revenueDecimal]]'s per-row
  // decimal item inside BOTH conditional branches (the zero arm is a
  // typed decimal zero, so the sum never touches double); share_bp
  // floors once at the end (the q124 rule).
  //
  // Scale: part is a broadcast dim; the groupBy key (year·100+month)
  // is calendar-bounded, so the aggregate output is tiny however big
  // the fact gets — partial aggregation collapses everything map-side.
  val q160: QuerySpec = QuerySpec(
    "q160_promo_share",
    (s, d) => {
      val item = col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 4)) - col("l_discount").cast(DecimalType(18, 4)))
      val zero = lit(0).cast(DecimalType(37, 6))
      lineitem(s, d)
        .join(part(s, d).select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .groupBy((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
          .cast("long").as("ship_month"))
        .agg(
          sum(when(col("p_type") === "PROMO", item).otherwise(zero)).as("promo_dec"),
          sum(item).as("tot_dec"))
        .select(
          col("ship_month"),
          col("promo_dec").cast("double").as("promo_rev"),
          col("tot_dec").cast("double").as("total_rev"),
          floor(col("promo_dec").cast("double") * 10000 / col("tot_dec").cast("double"))
            .cast("long").as("promo_share_bp"))
        .orderBy("ship_month")
    },
    Some(
      "WITH m AS (SELECT CAST(year(l_shipdate)*100 + month(l_shipdate) AS BIGINT) AS ship_month, " +
        "sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) " +
        "ELSE CAST(0 AS DECIMAL(37,6)) END) AS promo, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS tot " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey GROUP BY 1) " +
        "SELECT ship_month, CAST(promo AS DOUBLE) AS promo_rev, CAST(tot AS DOUBLE) AS total_rev, " +
        "CAST(floor(CAST(promo AS DOUBLE) * 10000 / CAST(tot AS DOUBLE)) AS BIGINT) AS promo_share_bp " +
        "FROM m ORDER BY ship_month"
    ),
  )

  // ---------------------------------------------------------------------
  // q161 — bilateral volume shipping (the TPC-H Q7 shape): revenue
  // flowing between NATION_1 and NATION_2 in either direction, by
  // supplier nation × customer nation × ship year. The two-role
  // dimension join — nation enters twice under different aliases, once
  // through supplier and once through customer — is the shape that
  // breaks naive "join each table once" planners; Spark just aliases.
  //
  // Scale: both nation sides and supplier broadcast; the only real
  // exchanges are lineitem⋈orders (fact-to-fact on orderkey) and the
  // customer join. The pair filter (both nations in {1,2,3}, distinct)
  // prunes AFTER the dims resolve but BEFORE the fact join output
  // aggregates, so the rollup sees only qualifying rows.
  val q161: QuerySpec = QuerySpec(
    "q161_volume_shipping",
    (s, d) => {
      val sn = nation(s, d).select(
        col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val cn = nation(s, d).select(
        col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      lineitem(s, d)
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("sn_key"))
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(cn, col("c_nationkey") === col("cn_key"))
        .where(
          col("supp_nation").isin("NATION_1", "NATION_2", "NATION_3") &&
            col("cust_nation").isin("NATION_1", "NATION_2", "NATION_3") &&
            col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(revenueExpr.as("revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    },
    Some(
      "SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, " +
        s"CAST(year(l_shipdate) AS BIGINT) AS ship_year, $revenueSql AS revenue " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "WHERE sn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3') " +
        "AND cn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3') " +
        "AND sn.n_name <> cn.n_name " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
    ),
  )

  // ---------------------------------------------------------------------
  // q162 — two-sample Kolmogorov–Smirnov distance between returned (A)
  // and refused (R) price distributions: D = max |F_A(x) − F_R(x)|,
  // completing the q158/q159 test-statistic family (rank test, χ²
  // cells, now the CDF-distance test). The statistic is DEFINED on the
  // §7.0 total order (price, orderkey, linenumber) — with cross-flag
  // price ties it is the tie-broken empirical D, deterministic in both
  // engines; without ties it is the classic KS distance.
  //
  // Mechanism: at the step with global position g, the empirical CDFs
  // are cum_A = (prefix count of A rows) and cum_R = g − cum_A — ONE
  // [[Ranks.withGlobalPrefixSum]] pass over the A-indicator yields both
  // (rank + running sum in the same range-partitioned scan), and every
  // step's |F_A − F_R| is pure integer arithmetic |cum_A·n_R − cum_R·n_A|
  // under a single max-aggregate. No unpartitioned window anywhere; the
  // counts anchor rides a 1-row cross join (the q79 rule). (First shipped
  // as three withGlobalRank passes — 3 checkpoint materializations; the
  // prefix-sum form measured ~3× cheaper at bench scale.)
  //
  // DECIMAL(38,0) bound: cum·n ≤ N² — same headroom as q158.
  val q162: QuerySpec = QuerySpec(
    "q162_ks_statistic",
    (s, d) => {
      val big = DecimalType(38, 0)
      val ord = Seq(col("l_extendedprice").asc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      val f = lineitem(s, d)
        .where(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      val steps = Ranks.withGlobalPrefixSum(
        f, ord, when(col("flag") === "A", 1L).otherwise(0L), "gr", "cum_a")
      val counts = f.agg(
        sum(when(col("flag") === "A", 1L).otherwise(0L)).cast(big).as("na"),
        sum(when(col("flag") === "R", 1L).otherwise(0L)).cast(big).as("nr"))
      steps.crossJoin(counts) // 1-row counts anchor
        .withColumn("ca", col("cum_a").cast(big))
        .withColumn("cr", col("gr").cast(big) - col("ca"))
        .withColumn("diff", abs(col("ca") * col("nr") - col("cr") * col("na")))
        .groupBy("na", "nr")
        .agg(max(col("diff")).as("dmax"))
        .select(
          col("na").cast("long").as("n_a"),
          col("nr").cast("long").as("n_r"),
          col("dmax").cast("long").as("d_scaled"),
          expr("CAST((10000 * dmax) div (na * nr) AS BIGINT)").as("d_bp"))
    },
    Some(
      "WITH f AS (SELECT l_returnflag AS flag, l_extendedprice, l_orderkey, l_linenumber " +
        "FROM lineitem WHERE l_returnflag IN ('A', 'R')), " +
        "r AS (SELECT flag, " +
        "row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS gr, " +
        "row_number() OVER (PARTITION BY flag ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS fr FROM f), " +
        "c AS (SELECT CAST(sum(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS HUGEINT) AS na, " +
        "CAST(sum(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS nr FROM f), " +
        "st AS (SELECT CAST(CASE WHEN flag = 'A' THEN fr ELSE gr - fr END AS HUGEINT) AS ca, " +
        "CAST(gr AS HUGEINT) - CAST(CASE WHEN flag = 'A' THEN fr ELSE gr - fr END AS HUGEINT) AS cr FROM r) " +
        "SELECT CAST(na AS BIGINT) AS n_a, CAST(nr AS BIGINT) AS n_r, " +
        "CAST(max(abs(ca*nr - cr*na)) AS BIGINT) AS d_scaled, " +
        "CAST((10000 * max(abs(ca*nr - cr*na))) // (na*nr) AS BIGINT) AS d_bp " +
        "FROM st, c GROUP BY na, nr"
    ),
  )

  // ---------------------------------------------------------------------
  // q163 — per-user behavioral entropy, averaged over hash cohorts:
  // H(user) = ln n − (Σ c·ln c)/n over the user's event-type counts —
  // the "how specialized is each user's behavior" diagnostic (H = 0:
  // single-type users; ln |types|: uniform). Cohorts are user_id mod 10
  // so the output is bounded and the per-cohort average is a stable,
  // comparable statistic.
  //
  // Determinism: H is computed from exact integer counts; ln/avg are
  // the only float steps and the result rounds to 4 decimals AFTER the
  // cohort average (§7.0 — same budget as q61's round-6 correlation).
  //
  // Scale: groupBy(user, type) partial-aggregates map-side; the
  // per-user fold is |types|-bounded; cohorts are 10 rows. Nothing
  // grows with events except the first exchange.
  val q163: QuerySpec = QuerySpec(
    "q163_user_entropy",
    (s, d) =>
      events(s, d)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(
          sum(col("c")).as("n"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("clnc"))
        .select(
          pmod(col("user_id"), lit(10L)).as("cohort"),
          (log(col("n").cast("double")) - col("clnc") / col("n").cast("double"))
            .as("h"))
        .groupBy("cohort")
        .agg(
          count(lit(1)).as("n_users"),
          round(avg(col("h")), 4).as("avg_entropy_nats"))
        .orderBy("cohort"),
    Some(
      "WITH ct AS (SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2), " +
        "u AS (SELECT user_id, sum(c) AS n, sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc FROM ct GROUP BY 1), " +
        "h AS (SELECT user_id % 10 AS cohort, ln(CAST(n AS DOUBLE)) - clnc / CAST(n AS DOUBLE) AS h FROM u) " +
        "SELECT cohort, count(*) AS n_users, round(avg(h), 4) AS avg_entropy_nats " +
        "FROM h GROUP BY 1 ORDER BY cohort"
    ),
  )

  // ---------------------------------------------------------------------
  // q165 — day-of-week seasonality index: each weekday's total order
  // revenue against a calendar-fair baseline, in basis points —
  // index_bp = 10⁴ · (rev_dow · days_total) / (rev_total · days_dow).
  // 10000 = exactly average; the days correction matters because the
  // calendar does not contain each weekday equally often.
  //
  // Determinism: revenue sums are exact decimal cents (scale-2 × 100 →
  // DECIMAL(38,0)); the index divides INTEGERS on both sides (Spark
  // `div`, DuckDB HUGEINT `//` — never decimal `//`, which DuckDB
  // routes through DOUBLE). Weekday is epoch-day mod 7 (engine-free,
  // the q159 rule).
  //
  // Scale: two bounded aggregates (7 rows, 1 row) off one orders pass
  // each; distinct days per weekday is a count-distinct over a
  // calendar-bounded set. The 1-row total rides a cross join.
  val q165: QuerySpec = QuerySpec(
    "q165_seasonality_index",
    (s, d) => {
      val big = DecimalType(38, 0)
      val cents = (sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100).cast(big)
      val byDow = orders(s, d)
        .groupBy(pmod(unix_date(col("o_orderdate").cast("date")), lit(7))
          .cast("long").as("dow"))
        .agg(
          cents.as("rev_cents"),
          countDistinct(col("o_orderdate").cast("date")).cast(big).as("days"))
      val total = byDow.agg(
        sum(col("rev_cents")).as("tot_cents"),
        sum(col("days")).as("tot_days"))
      byDow.crossJoin(total) // 1-row corpus totals
        .select(
          col("dow"),
          col("days").cast("long").as("n_days"),
          col("rev_cents").cast("double").divide(lit(100.0)).as("revenue"),
          expr("CAST((10000 * rev_cents * tot_days) div (tot_cents * days) AS BIGINT)")
            .as("index_bp"))
        .orderBy("dow")
    },
    Some(
      "WITH b AS (SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 7 AS dow, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS rev_cents, " +
        "CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS HUGEINT) AS days " +
        "FROM orders GROUP BY 1), " +
        "t AS (SELECT sum(rev_cents) AS tot_cents, sum(days) AS tot_days FROM b) " +
        "SELECT CAST(dow AS BIGINT) AS dow, CAST(days AS BIGINT) AS n_days, " +
        "CAST(rev_cents AS DOUBLE) / 100.0 AS revenue, " +
        "CAST((10000 * rev_cents * tot_days) // (tot_cents * days) AS BIGINT) AS index_bp " +
        "FROM b, t ORDER BY dow"
    ),
  )

  // ---------------------------------------------------------------------
  // q166 — lag-7 autocorrelation of the daily revenue series: Pearson r
  // between each day's order revenue and the same weekday one week
  // earlier — the "is there weekly structure" companion to q165's
  // level index and q145's trend slope. The lag pairing is a SELF-JOIN
  // on day = day − 7, not a window lag: an equi-join distributes,
  // while lag() over the full series is one task (and the q52 moving-
  // window exception doesn't apply — this series has ONE group).
  //
  // Determinism: the five co-moment sums run in exact decimal over
  // cent-scale pairs (the q61 rule); r is assembled from them in one
  // double step and rounds to 6.
  val q166: QuerySpec = QuerySpec(
    "q166_autocorr_lag7",
    (s, d) => {
      val daily = orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      val prev = daily.select(col("day").as("pday"), col("rev").as("prev"))
      val x = col("rev")
      val y = col("prev")
      daily
        .join(prev, col("pday") === date_sub(col("day"), 7))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(x).cast("double").as("s1"),
          sum(y).cast("double").as("s2"),
          sum(x * x).cast("double").as("s11"),
          sum(y * y).cast("double").as("s22"),
          sum(x * y).cast("double").as("s12"))
        .select(
          col("n").cast("long").as("n_pairs"),
          round(
            (col("n") * col("s12") - col("s1") * col("s2")) /
              sqrt((col("n") * col("s11") - col("s1") * col("s1")) *
                (col("n") * col("s22") - col("s2") * col("s2"))),
            6).as("autocorr_lag7"))
    },
    Some(
      "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, " +
        "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev FROM orders GROUP BY 1), " +
        "p AS (SELECT d.rev AS x, l.rev AS y FROM daily d JOIN daily l ON l.day = d.day - 7), " +
        "m AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(x) AS DOUBLE) AS s1, " +
        "CAST(sum(y) AS DOUBLE) AS s2, CAST(sum(x*x) AS DOUBLE) AS s11, " +
        "CAST(sum(y*y) AS DOUBLE) AS s22, CAST(sum(x*y) AS DOUBLE) AS s12 FROM p) " +
        "SELECT CAST(n AS BIGINT) AS n_pairs, " +
        "round((n*s12 - s1*s2) / sqrt((n*s11 - s1*s1)*(n*s22 - s2*s2)), 6) AS autocorr_lag7 FROM m"
    ),
  )

  // ---------------------------------------------------------------------
  // q167 — dominant supplier–part positions (the TPC-H Q20 shape,
  // partsupp emulated from shipped facts): suppliers that shipped more
  // than half of a part's 1997 volume, counted per supplier. The
  // correlated "exceeds a share of the group total" predicate becomes
  // two aggregates of the SAME filtered fact joined on the group key —
  // Catalyst's decorrelation target shape, written directly.
  //
  // Determinism: quantities sum as exact decimals; the half-share
  // compare is decimal·2 vs decimal (no division anywhere).
  //
  // Scale: both aggregates partial-agg map-side off one shipdate-pruned
  // scan; the join key (partkey) is the natural shuffle key and the
  // per-part group is supplier-bounded. Output ≤ |suppliers|.
  val q167: QuerySpec = QuerySpec(
    "q167_dominant_supplier",
    (s, d) => {
      val dec = DecimalType(18, 2)
      val li97 = lineitem(s, d)
        .where(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01")
      val sp = li97.groupBy("l_suppkey", "l_partkey")
        .agg(sum(col("l_quantity").cast(dec)).as("sq"))
      val pt = li97.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity").cast(dec)).as("pq"))
      sp.join(pt, col("l_partkey") === col("pk"))
        .where(col("sq") * 2 > col("pq"))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_dominant_parts"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_dominant_parts"))
        .orderBy(desc("n_dominant_parts"), col("s_suppkey"))
    },
    Some(
      "WITH li97 AS (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01'), " +
        "sp AS (SELECT l_suppkey, l_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq " +
        "FROM li97 GROUP BY 1, 2), " +
        "pt AS (SELECT l_partkey AS pk, sum(CAST(l_quantity AS DECIMAL(18,2))) AS pq " +
        "FROM li97 GROUP BY 1), " +
        "dom AS (SELECT l_suppkey, count(*) AS n_dominant_parts " +
        "FROM sp JOIN pt ON l_partkey = pk WHERE sq * 2 > pq GROUP BY 1) " +
        "SELECT s_suppkey, s_name, n_dominant_parts FROM dom " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "ORDER BY n_dominant_parts DESC, s_suppkey"
    ),
  )

  // ---------------------------------------------------------------------
  // q199 — l-diversity audit, the homogeneity-attack complement to
  // q148: k-anonymity only bounds CLASS SIZE, but a class of 50 rows
  // all sharing one sensitive value still leaks it for everyone in
  // the class. Here the quasi-identifiers are (nation, balance
  // bucket) and the sensitive attribute is the market segment; per
  // equivalence class we count DISTINCT sensitive values and the
  // top-value share, then report classes/rows failing l ∈ {2, 3}
  // alongside the worst single-value concentration (bp) among
  // at-risk classes — the number an anonymization pass must drive
  // down by generalizing buckets.
  //
  // Scale: one groupBy over (QI, sensitive) — key space bounded by
  // domain products, map-side combined — then every later stage
  // runs on the CLASS table (q148's discipline); the l explode
  // re-aggregates classes, never rows.
  val q199: QuerySpec = QuerySpec(
    "q199_l_diversity",
    (s, d) => {
      val cells = customer(s, d)
        .select(
          col("c_nationkey").as("nk"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) div 200000").as("bal_k"),
          col("c_mktsegment").as("sens"))
        .groupBy("nk", "bal_k", "sens")
        .agg(count(lit(1)).as("cnt"))
      val classes = cells
        .groupBy("nk", "bal_k")
        .agg(
          count(lit(1)).as("diversity"),
          sum(col("cnt")).as("sz"),
          max(col("cnt")).as("top_cnt"))
      classes
        .select(col("diversity"), col("sz"), col("top_cnt"),
          explode(array(lit(2L), lit(3L))).as("l"))
        .groupBy("l")
        .agg(
          sum(when(col("diversity") < col("l"), 1L).otherwise(0L)).as("classes_at_risk"),
          sum(when(col("diversity") < col("l"), col("sz")).otherwise(0L)).as("rows_at_risk"),
          coalesce(
            max(when(col("diversity") < col("l"),
              expr("top_cnt * 10000 div sz"))),
            lit(0L)).as("worst_share_bp"),
          count(lit(1)).as("classes_total"))
        .orderBy("l")
    },
    Some(
      "WITH q AS (SELECT c_nationkey AS nk, " +
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 200000 AS bal_k, " +
        "c_mktsegment AS sens FROM customer), " +
        "cells AS (SELECT nk, bal_k, sens, count(*) AS cnt FROM q GROUP BY 1,2,3), " +
        "cl AS (SELECT nk, bal_k, count(*) AS diversity, sum(cnt) AS sz, max(cnt) AS top_cnt " +
        "FROM cells GROUP BY 1,2) " +
        "SELECT l.l, CAST(count(*) FILTER (WHERE diversity < l.l) AS BIGINT) AS classes_at_risk, " +
        "CAST(coalesce(sum(sz) FILTER (WHERE diversity < l.l), 0) AS BIGINT) AS rows_at_risk, " +
        "CAST(coalesce(max(top_cnt * 10000 // sz) FILTER (WHERE diversity < l.l), 0) AS BIGINT) AS worst_share_bp, " +
        "CAST(count(*) AS BIGINT) AS classes_total " +
        "FROM cl, (SELECT unnest([2,3]) AS l) l GROUP BY 1 ORDER BY l"
    ),
  )

  // ---------------------------------------------------------------------
  // q200 — Fellegi–Sunter probabilistic record linkage: score
  // candidate pairs between two sources with per-field AGREEMENT
  // LEVELS and log-likelihood weights, then classify match /
  // possible / non-match — the principled form of entity resolution
  // (q55's edit-distance linkage is one comparator inside this
  // framework). Source B is a deterministically perturbed copy of
  // customer (case noise at key%5=0, '#'→'-' format noise at %7=0,
  // segment lost to UNKNOWN at %11=0, balance drifted ±0.5 by key%3)
  // so every agreement level is genuinely exercised and both engines
  // build the identical fixture (plus a hard name overhaul at %13
  // and a 500-unit balance jump at %17, so every agreement level
  // AND all three verdicts occur). Weights are integer MICRO-units
  // (the q197 discipline — exact sums, hash-stable): name exact
  // +4M / case-fold +3M / levenshtein≤2 +1M / else −2M; segment
  // agree +1.5M / UNKNOWN 0 / disagree −1M; balance within 1.0 +2M
  // / else −1.5M. Thresholds: ≥4M match, ≥0 possible.
  //
  // Scale: candidates come from blocking on the name's last-5-digit
  // suffix — a key whose DOMAIN GROWS with the data (the blocking
  // rule that keeps linkage subquadratic: fixed-domain blocks like
  // nation alone go quadratic per block as data grows; production
  // pipelines block on surname+zip-class keys for exactly this
  // reason). Comparators run on candidate pairs only.
  val q200: QuerySpec = QuerySpec(
    "q200_record_linkage",
    (s, d) => {
      val a = customer(s, d).select(
        col("c_custkey").as("a_id"), col("c_name").as("a_name"),
        col("c_mktsegment").as("a_seg"), col("c_acctbal").as("a_bal"),
        substring(col("c_name"), -5, 5).as("blk"))
      val bName = when(col("c_custkey") % 5 === 0, lower(col("c_name")))
        .when(col("c_custkey") % 7 === 0, regexp_replace(col("c_name"), "#", "-"))
        .when(col("c_custkey") % 13 === 0, regexp_replace(col("c_name"), "Customer", "Client"))
        .otherwise(col("c_name"))
      val b = customer(s, d).select(
        (col("c_custkey") + 1000000L).as("b_id"),
        bName.as("b_name"),
        when(col("c_custkey") % 11 === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("b_seg"),
        (col("c_acctbal") + (col("c_custkey") % 3 - 1) * 0.5 +
          when(col("c_custkey") % 17 === 0, 500.0).otherwise(0.0)).as("b_bal"),
        substring(bName, -5, 5).as("blk"))
      val nameW = when(col("a_name") === col("b_name"), 4000000L)
        .when(lower(col("a_name")) === lower(col("b_name")), 3000000L)
        .when(levenshtein(col("a_name"), col("b_name")) <= 2, 1000000L)
        .otherwise(-2000000L)
      val segW = when(col("b_seg") === "UNKNOWN", 0L)
        .when(col("a_seg") === col("b_seg"), 1500000L)
        .otherwise(-1000000L)
      val balW = when(abs(col("a_bal") - col("b_bal")) <= 1.0, 2000000L)
        .otherwise(-1500000L)
      a.join(b, Seq("blk"))
        .select(col("a_id"), col("b_id"),
          (nameW + segW + balW).as("score_micro"))
        .withColumn("verdict",
          when(col("score_micro") >= 4000000L, "match")
            .when(col("score_micro") >= 0L, "possible")
            .otherwise("non-match"))
        .orderBy("a_id", "b_id")
    },
    Some(
      "WITH a AS (SELECT c_custkey AS a_id, c_name AS a_name, c_mktsegment AS a_seg, " +
        "c_acctbal AS a_bal, substring(c_name, -5, 5) AS blk FROM customer), " +
        "b0 AS (SELECT c_custkey, CASE WHEN c_custkey % 5 = 0 THEN lower(c_name) " +
        "WHEN c_custkey % 7 = 0 THEN replace(c_name, '#', '-') " +
        "WHEN c_custkey % 13 = 0 THEN replace(c_name, 'Customer', 'Client') ELSE c_name END AS b_name, " +
        "CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS b_seg, " +
        "c_acctbal + (c_custkey % 3 - 1) * 0.5 + " +
        "CASE WHEN c_custkey % 17 = 0 THEN 500.0 ELSE 0.0 END AS b_bal FROM customer), " +
        "b AS (SELECT c_custkey + 1000000 AS b_id, b_name, b_seg, b_bal, " +
        "substring(b_name, -5, 5) AS blk FROM b0), " +
        "scored AS (SELECT a_id, b_id, " +
        "(CASE WHEN a_name = b_name THEN 4000000 " +
        "WHEN lower(a_name) = lower(b_name) THEN 3000000 " +
        "WHEN levenshtein(a_name, b_name) <= 2 THEN 1000000 ELSE -2000000 END + " +
        "CASE WHEN b_seg = 'UNKNOWN' THEN 0 WHEN a_seg = b_seg THEN 1500000 ELSE -1000000 END + " +
        "CASE WHEN abs(a_bal - b_bal) <= 1.0 THEN 2000000 ELSE -1500000 END) AS score_micro " +
        "FROM a JOIN b USING (blk)) " +
        "SELECT a_id, b_id, CAST(score_micro AS BIGINT) AS score_micro, " +
        "CASE WHEN score_micro >= 4000000 THEN 'match' " +
        "WHEN score_micro >= 0 THEN 'possible' ELSE 'non-match' END AS verdict " +
        "FROM scored ORDER BY a_id, b_id"
    ),
  )

  // ---------------------------------------------------------------------
  // q204 — consistent ENTITY sampling: build a ~12.5% dev slice of the
  // warehouse by hashing the CUSTOMER key (md5 first-hex-char < '2'),
  // then pulling every order and lineitem OF SAMPLED CUSTOMERS — the
  // families-stay-intact discipline that makes a sample queryable
  // (row-level sampling breaks every join: an order without its
  // customer, lineitems without their order). The report carries the
  // per-segment entity/order/line counts plus the integrity count a
  // sampler must emit: orders whose customer is missing from the
  // slice — ZERO by construction here, and the column exists so a
  // broken sampler shows a nonzero.
  //
  // Scale: the sample predicate is a pure function of the entity key
  // — it pushes to every table's scan independently (no join needed
  // to DECIDE membership, only to verify), so a 100 TB dev-slice job
  // is three filtered scans plus key-partitioned joins of already-
  // thinned tables.
  val q204: QuerySpec = QuerySpec(
    "q204_consistent_sample",
    (s, d) => {
      def keep(c: org.apache.spark.sql.Column) =
        substring(md5(concat(lit("graft-slice:"), c.cast("string"))), 1, 1) < "2"
      val cust = customer(s, d).where(keep(col("c_custkey")))
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val ord = orders(s, d).where(keep(col("o_custkey")))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = lineitem(s, d).select(col("l_orderkey"))
      val orphan = ord.join(cust, col("o_custkey") === col("c_custkey"), "left_anti")
      val ordSeg = ord.join(cust, col("o_custkey") === col("c_custkey"))
      val liSeg = li.join(ordSeg, col("l_orderkey") === col("o_orderkey"))
      cust.groupBy("segment").agg(count(lit(1)).as("n_customers"))
        .join(ordSeg.groupBy("segment").agg(count(lit(1)).as("n_orders")), Seq("segment"), "left")
        .join(liSeg.groupBy("segment").agg(count(lit(1)).as("n_lineitems")), Seq("segment"), "left")
        .crossJoin(orphan.agg(count(lit(1)).as("n_orphan_orders"))) // 1-row integrity anchor
        .select(
          col("segment"),
          col("n_customers"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_lineitems"), lit(0L)).as("n_lineitems"),
          col("n_orphan_orders"))
        .orderBy("segment")
    },
    Some(
      "WITH cust AS (SELECT c_custkey, c_mktsegment AS segment FROM customer " +
        "WHERE substring(md5('graft-slice:' || CAST(c_custkey AS VARCHAR)), 1, 1) < '2'), " +
        "ord AS (SELECT o_orderkey, o_custkey FROM orders " +
        "WHERE substring(md5('graft-slice:' || CAST(o_custkey AS VARCHAR)), 1, 1) < '2'), " +
        "orphan AS (SELECT CAST(count(*) AS BIGINT) AS n_orphan_orders FROM ord " +
        "WHERE o_custkey NOT IN (SELECT c_custkey FROM cust)), " +
        "os AS (SELECT o_orderkey, segment FROM ord JOIN cust ON o_custkey = c_custkey), " +
        "ls AS (SELECT segment FROM lineitem JOIN os ON l_orderkey = o_orderkey) " +
        "SELECT c.segment, CAST(count(*) AS BIGINT) AS n_customers, " +
        "CAST(coalesce((SELECT count(*) FROM os WHERE os.segment = c.segment), 0) AS BIGINT) AS n_orders, " +
        "CAST(coalesce((SELECT count(*) FROM ls WHERE ls.segment = c.segment), 0) AS BIGINT) AS n_lineitems, " +
        "(SELECT n_orphan_orders FROM orphan) AS n_orphan_orders " +
        "FROM cust c GROUP BY 1 ORDER BY segment"
    ),
  )

  // ---------------------------------------------------------------------
  // q206 — Jaro–Winkler name scoring over the q200 linkage fixture:
  // the graded name comparator (levenshtein counts edits;
  // Jaro–Winkler weights WHERE they happen — Winkler's prefix boost
  // encodes that name typos cluster at the end). Scored by the native
  // codegen'd [[graft.expressions.JaroWinkler]] expression and
  // hash-crossed against DuckDB's INDEPENDENT
  // jaro_winkler_similarity — two from-scratch implementations of
  // the textbook algorithm agreeing cell-by-cell is the strongest
  // correctness proof a similarity function can get.
  //
  // Scale: same blocking economics as q200 (suffix blocks, domain ∝
  // data); the comparator is one static call inside
  // WholeStageCodegen per candidate pair.
  val q206: QuerySpec = QuerySpec(
    "q206_jaro_winkler",
    (s, d) => {
      val bName = when(col("c_custkey") % 5 === 0, lower(col("c_name")))
        .when(col("c_custkey") % 7 === 0, regexp_replace(col("c_name"), "#", "-"))
        .when(col("c_custkey") % 13 === 0, regexp_replace(col("c_name"), "Customer", "Client"))
        .otherwise(col("c_name"))
      val a = customer(s, d).select(
        col("c_custkey").as("a_id"), col("c_name").as("a_name"),
        substring(col("c_name"), -5, 5).as("blk"))
      val b = customer(s, d).select(
        (col("c_custkey") + 1000000L).as("b_id"), bName.as("b_name"),
        substring(bName, -5, 5).as("blk"))
      a.join(b, Seq("blk"))
        .select(
          col("a_id"), col("b_id"),
          round(graft.expressions.JaroWinkler.jaroWinkler(col("a_name"), col("b_name")), 4)
            .as("jw"))
        .orderBy("a_id", "b_id")
    },
    Some(
      "WITH a AS (SELECT c_custkey AS a_id, c_name AS a_name, " +
        "substring(c_name, -5, 5) AS blk FROM customer), " +
        "b0 AS (SELECT c_custkey, CASE WHEN c_custkey % 5 = 0 THEN lower(c_name) " +
        "WHEN c_custkey % 7 = 0 THEN replace(c_name, '#', '-') " +
        "WHEN c_custkey % 13 = 0 THEN replace(c_name, 'Customer', 'Client') ELSE c_name END AS b_name " +
        "FROM customer), " +
        "b AS (SELECT c_custkey + 1000000 AS b_id, b_name, substring(b_name, -5, 5) AS blk FROM b0) " +
        "SELECT a_id, b_id, round(jaro_winkler_similarity(a_name, b_name), 4) AS jw " +
        "FROM a JOIN b USING (blk) ORDER BY a_id, b_id"
    ),
  )

  // ---------------------------------------------------------------------
  // q220 — join-skew planning table: the top-10 heaviest join keys
  // with their row share and the per-key SALT FACTOR a salted join
  // needs (⌈n_key/mean⌉ — how many sub-keys flatten this key to
  // average weight). Completes the skew triptych: q100 is the fanout
  // DISTRIBUTION, q46 EXECUTES the salted join, this emits the
  // DECISION — which keys to salt and by how much — that a 100 TB
  // operator (or an auto-salting rule) reads before launching the
  // join. All integer arithmetic: share in bp, salt factor by
  // ceiling-division ((n·k + total − 1) div total), ties broken on
  // key — a pure function of the table.
  //
  // Scale: one map-side-combined per-key count (the only corpus-sized
  // pass), a 1-row totals anchor broadcast back (the q79 idiom), and
  // TakeOrdered(10) over the |keys|-sized frame. The profile is
  // re-runnable per batch because its cost is one aggregate — cheap
  // enough to gate every scheduled join at scale.
  val q220: QuerySpec = QuerySpec(
    "q220_join_skew_profile",
    (s, d) => {
      val cnt = lineitem(s, d)
        .groupBy(col("l_suppkey").as("key"))
        .agg(count(lit(1)).as("n_rows"))
      val tot = cnt.agg(
        sum(col("n_rows")).as("total"), count(lit(1)).as("n_keys"))
      cnt.join(broadcast(tot))
        .select(
          col("key"), col("n_rows"),
          expr("10000 * n_rows div total").as("share_bp"),
          expr("(n_rows * n_keys + total - 1) div total").as("salt_factor"))
        .orderBy(col("n_rows").desc, col("key").asc)
        .limit(10)
    },
    Some(
      "WITH c AS (SELECT l_suppkey AS key, count(*) AS n_rows FROM lineitem GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total, count(*) AS n_keys FROM c) " +
        "SELECT key, n_rows, " +
        "CAST(10000 * n_rows // total AS BIGINT) AS share_bp, " +
        "CAST((n_rows * n_keys + total - 1) // total AS BIGINT) AS salt_factor " +
        "FROM c CROSS JOIN t ORDER BY n_rows DESC, key LIMIT 10"
    ),
  )

  // ---------------------------------------------------------------------
  // q255 — the AUTO-salted join (r9): q220 emits the skew DECISION,
  // q46 executes a blanket salted join — this closes the loop with the
  // operator that READS the histogram and salts selectively
  // ([[Skew.autoSaltedInnerJoin]]). The join key emulates the classic
  // default-key pathology (the null/default customer): 3 of every 4
  // events collapse onto key 0, the rest stay per-user cold keys — so
  // the plan table holds ONE hot key (factor capped at 16) and every
  // cold key passes through unsalted with an unreplicated dim row.
  // The salting must be INVISIBLE: the oracle is the plain join SQL
  // (the q46 proof shape); hot-key fan-out, cold-key pass-through,
  // plan-size and factor caps are pinned in SkewSpec.
  //
  // Scale: the plan costs one map-side-combined aggregate over the
  // fact; the plan table is ≤ maxHotKeys rows BY CONSTRUCTION
  // (heaviest-first, ties on key) so its two broadcasts never outgrow
  // the driver; right-side replication is ∝ Σ hot factors, never
  // |dim|×salts as q46's blanket form pays. An un-planned hot key
  // degrades to one reducer — a latency cost, never a correctness one.
  val q255: QuerySpec = QuerySpec(
    "q255_auto_salted_join",
    (s, d) => {
      val ev = events(s, d).select(
        when(col("user_id") % 4 =!= 0, lit(0L)).otherwise(col("user_id")).as("k"),
        col("value"))
      val dim = ev.select("k").distinct()
        .withColumn("weight", pmod(col("k"), lit(97L)) + 1)
      Skew
        .autoSaltedInnerJoin(ev, dim, Seq("k"),
          minSaltFactor = 2, maxHotKeys = 100, maxSaltFactor = 16)
        .groupBy("k", "weight")
        .agg(count(lit(1)).as("n"), dsum("value").as("sum_value"))
        .select(col("k"), col("weight"), col("n"),
          round(col("sum_value") * col("weight"), 2).as("weighted"))
        .orderBy("k")
    },
    Some(
      "WITH e AS (SELECT CASE WHEN user_id % 4 <> 0 THEN 0 ELSE user_id END AS k, value FROM events), " +
        "dw AS (SELECT k, k % 97 + 1 AS weight FROM (SELECT DISTINCT k FROM e)) " +
        "SELECT e.k, dw.weight, count(*) AS n, " +
        s"round(${dsumSql("e.value")} * dw.weight, 2) AS weighted " +
        "FROM e JOIN dw ON e.k = dw.k GROUP BY 1, 2 ORDER BY e.k"
    ),
  )

  // ---------------------------------------------------------------------
  // q227 — t-closeness audit, the distribution-attack complement that
  // completes the privacy ladder (q148 bounds class SIZE, q199 bounds
  // distinct sensitive VALUES, this bounds the class's sensitive
  // DISTRIBUTION): a class whose segment mix diverges from the
  // corpus-wide mix leaks "people like this skew toward X" even when
  // it is l-diverse — the skewness attack of Li/Li/Venkatasubramanian
  // (ICDE'07). Per equivalence class over the q199 quasi-identifiers
  // (nation, balance bucket) we compute the TOTAL-VARIATION distance
  // between the class's market-segment distribution and the global
  // one (= EMD under the uniform ground metric for a categorical
  // sensitive attribute), then for t ∈ {1000, 2000} bp report the
  // classes/rows breaching the threshold and the worst distance — the
  // generalization target an anonymization pass must drive down.
  //
  // Determinism: TVD is evaluated in cross-multiplied integer form —
  // Σ_s |cnt_cs·N − g_s·sz_c| accumulated in DECIMAL(38,0) (the
  // products reach N², past BIGINT at warehouse row counts — the
  // q147 rule), then (10⁴·Σ) div (2·sz_c·N) floors to basis points.
  // No floats anywhere; absent cells coalesce to 0 so missing-value
  // mass |0 − g_s·sz_c| is charged exactly.
  //
  // Scale: one groupBy over (QI, sensitive) — key space bounded by
  // domain products, map-side combined; the class × global-mix grid
  // is a BROADCAST cross join (the global frame has m = |sensitive
  // domain| rows, bounded); every stage after the first scan runs on
  // class-sized frames (the q148/q199 discipline — the fact is
  // touched once).
  val q227: QuerySpec = QuerySpec(
    "q227_t_closeness",
    (s, d) => {
      val big = DecimalType(38, 0)
      val cells = customer(s, d)
        .select(
          col("c_nationkey").as("nk"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) div 200000").as("bal_k"),
          col("c_mktsegment").as("sens"))
        .groupBy("nk", "bal_k", "sens")
        .agg(count(lit(1)).as("cnt"))
      val glob = cells.groupBy("sens").agg(sum("cnt").cast(big).as("g"))
      val tot = glob.agg(sum("g").cast(big).as("n_total"))
      val classes = cells.groupBy("nk", "bal_k").agg(sum("cnt").cast(big).as("sz"))
      val tvd = classes
        .crossJoin(broadcast(glob)) // m-row sensitive-domain grid
        .join(cells, Seq("nk", "bal_k", "sens"), "left")
        .crossJoin(tot) // 1-row corpus anchor
        .select(col("nk"), col("bal_k"), col("sz"), col("n_total"),
          abs(coalesce(col("cnt"), lit(0L)).cast(big) * col("n_total") -
            col("g") * col("sz")).as("dev"))
        .groupBy("nk", "bal_k", "sz", "n_total")
        .agg(sum("dev").as("sdev"))
        .select(col("sz"),
          expr("CAST((10000 * sdev) div (2 * sz * n_total) AS BIGINT)").as("tvd_bp"))
      tvd
        .select(col("tvd_bp"), col("sz"),
          explode(array(lit(1000L), lit(2000L))).as("t_bp"))
        .groupBy("t_bp")
        .agg(
          sum(when(col("tvd_bp") > col("t_bp"), 1L).otherwise(0L)).as("classes_at_risk"),
          coalesce(sum(when(col("tvd_bp") > col("t_bp"), col("sz"))), lit(0).cast(big))
            .cast("long").as("rows_at_risk"),
          coalesce(max(when(col("tvd_bp") > col("t_bp"), col("tvd_bp"))), lit(0L))
            .as("worst_tvd_bp"),
          count(lit(1)).as("classes_total"))
        .orderBy("t_bp")
    },
    Some(
      "WITH q AS (SELECT c_nationkey AS nk, " +
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 200000 AS bal_k, " +
        "c_mktsegment AS sens FROM customer), " +
        "cells AS (SELECT nk, bal_k, sens, count(*) AS cnt FROM q GROUP BY 1,2,3), " +
        // CTE is `gmix`, not `glob`: GLOB is a reserved DuckDB keyword
        // (the match operator) and an identifier named after it fails
        // to parse — the round-6 driver gate caught exactly this.
        "gmix AS (SELECT sens, CAST(sum(cnt) AS HUGEINT) AS g FROM cells GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(g) AS HUGEINT) AS n_total FROM gmix), " +
        "cl AS (SELECT nk, bal_k, CAST(sum(cnt) AS HUGEINT) AS sz FROM cells GROUP BY 1,2), " +
        "tvd AS (SELECT cl.nk, cl.bal_k, cl.sz, " +
        "CAST((10000 * sum(abs(CAST(coalesce(cells.cnt, 0) AS HUGEINT) * tot.n_total - gmix.g * cl.sz))) " +
        "// (2 * cl.sz * tot.n_total) AS BIGINT) AS tvd_bp " +
        "FROM cl CROSS JOIN gmix CROSS JOIN tot " +
        "LEFT JOIN cells ON cells.nk = cl.nk AND cells.bal_k = cl.bal_k AND cells.sens = gmix.sens " +
        "GROUP BY cl.nk, cl.bal_k, cl.sz, tot.n_total) " +
        "SELECT t.t_bp, " +
        "CAST(count(*) FILTER (WHERE tvd_bp > t.t_bp) AS BIGINT) AS classes_at_risk, " +
        "CAST(coalesce(sum(sz) FILTER (WHERE tvd_bp > t.t_bp), 0) AS BIGINT) AS rows_at_risk, " +
        "CAST(coalesce(max(tvd_bp) FILTER (WHERE tvd_bp > t.t_bp), 0) AS BIGINT) AS worst_tvd_bp, " +
        "CAST(count(*) AS BIGINT) AS classes_total " +
        "FROM tvd, (SELECT unnest([1000, 2000]) AS t_bp) t GROUP BY 1 ORDER BY t_bp"
    ),
  )

  // ---------------------------------------------------------------------
  // q241 — ε-differentially-private histogram RELEASE with the audit a
  // release pipeline runs before publishing: per (event_type, weekday)
  // cell, the true count, the two-sided-geometric (discrete Laplace)
  // noise, and the released count. The geometric mechanism (Ghosh,
  // Roughgarden & Sundararajan, STOC'09) is the integer-exact optimal
  // mechanism for counts; cells are disjoint so the release composes
  // in PARALLEL — one ε covers the whole table. q148/q199/q227 AUDIT
  // anonymity properties; this is the ladder's final rung, the
  // mechanism that actually leaves the trust boundary.
  //
  // Determinism: noise = G₁ − G₂ with Gᵢ = ⌊−ln(1 − uᵢ)⌋ (ε = 1 ⇒
  // ln α = −1), uᵢ = (hᵢ + ½)/2³² from two md5 chunks of the CELL KEY
  // (the q234 multi-draw idiom) — u is a dyadic rational strictly
  // inside (0,1), the same exact-ratio-into-ln class every µnat query
  // trusts cross-engine. Seeding noise from the cell key makes reruns
  // idempotent (re-publishing must NOT spend budget twice — the
  // Chamandy lesson applied to DP); production swaps the public hash
  // for a KEYED PRF of the same shape, which changes secrecy, not
  // this plan.
  //
  // Scale: one fact pass partial-aggs to the |types|·7 domain-bounded
  // cell table; noise is per-cell scalar arithmetic. true_n/abs_err
  // stay INSIDE the boundary (they are the audit); only
  // (cell, released) ships.
  val q241: QuerySpec = {
    QuerySpec(
      "q241_dp_release",
      (s, d) => {
        val cells = events(s, d)
          .groupBy(col("event_type"),
            expr("datediff(CAST(ts AS DATE), DATE '1970-01-01') % 7").as("dow"))
          .agg(count(lit(1)).as("true_n"))
        cells
          .withColumn("noise",
            DpNoise.twoSidedGeometric(concat(lit("graft-dp:"),
              col("event_type"), lit(":"), col("dow").cast("string"))))
          .select(col("event_type"), col("dow").cast("int").as("dow"),
            col("true_n"), col("noise"),
            (col("true_n") + col("noise")).as("released"))
          .orderBy("event_type", "dow")
      },
      Some(
        "WITH cells AS (SELECT event_type, " +
          "datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS dow, " +
          "count(*) AS true_n FROM events GROUP BY 1, 2), " +
          "k AS (SELECT *, md5('graft-dp:' || event_type || ':' || CAST(dow AS VARCHAR)) AS h FROM cells), " +
          "u AS (SELECT event_type, dow, true_n, " +
          "CAST(('0x' || substr(h, 1, 8)) AS BIGINT) AS u1, " +
          "CAST(('0x' || substr(h, 9, 8)) AS BIGINT) AS u2 FROM k), " +
          "nz AS (SELECT event_type, dow, true_n, " +
          "CAST(floor(-ln(1.0 - ((CAST(u1 AS DOUBLE) + 0.5) / 4294967296.0))) AS BIGINT) - " +
          "CAST(floor(-ln(1.0 - ((CAST(u2 AS DOUBLE) + 0.5) / 4294967296.0))) AS BIGINT) AS noise FROM u) " +
          "SELECT event_type, CAST(dow AS INTEGER) AS dow, true_n, noise, " +
          "true_n + noise AS released FROM nz ORDER BY event_type, dow"
      ),
    )
  }

  // ---------------------------------------------------------------------
  // q247 — overdispersion index per event type: the variance-to-mean
  // ratio of per-user event counts (Fisher's dispersion index) in
  // exact milli-units. The count-model diagnostic q146 gives for
  // INTER-ARRIVAL gaps, applied to COUNTS: Poisson ⇒ 1000, clumped
  // users ≫ 1000 (fit a negative binomial, not Poisson; also the
  // "one crawler is hammering us" signal), ≪ 1000 = rate-limited.
  // Decides the error model before anyone fits a count regression on
  // behavioral data.
  //
  // Determinism: D = s²/x̄ = (n·Σx² − (Σx)²) / ((n−1)·Σx) — one exact
  // rational per type with denominators cleared in DECIMAL(38,0)
  // (numerator ≥ 0 by Cauchy–Schwarz, the q146 sign rule), floored
  // milli division. No float anywhere.
  //
  // Scale: per-(user, type) counts partial-agg map-side; the moment
  // rollup is |types| rows. Σx² ≤ n·max²: DECIMAL(38,0) headroom to
  // 10¹⁹ users at 10⁹ events each.
  val q247: QuerySpec = QuerySpec(
    "q247_dispersion_index",
    (s, d) => {
      val big = DecimalType(38, 0)
      events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast(big).as("n"),
          sum("x").cast(big).as("sx"),
          sum(col("x") * col("x")).cast(big).as("sxx"))
        .select(col("event_type"), col("n").cast("long").as("n_users"),
          expr("CAST((1000 * sx) div n AS BIGINT)").as("mean_milli"),
          expr("CAST((1000 * (n * sxx - sx * sx)) div ((n - 1) * sx) AS BIGINT)")
            .as("dispersion_milli"))
        .orderBy("event_type")
    },
    Some(
      "WITH pu AS (SELECT user_id, event_type, count(*) AS x FROM events GROUP BY 1, 2), " +
        "m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n, sum(CAST(x AS HUGEINT)) AS sx, " +
        "sum(CAST(x AS HUGEINT) * x) AS sxx FROM pu GROUP BY 1) " +
        "SELECT event_type, CAST(n AS BIGINT) AS n_users, " +
        "CAST((1000 * sx) // n AS BIGINT) AS mean_milli, " +
        "CAST((1000 * (n * sxx - sx * sx)) // ((n - 1) * sx) AS BIGINT) AS dispersion_milli " +
        "FROM m ORDER BY event_type"
    ),
  )

  // ---------------------------------------------------------------------
  // q248 — Mantel–Haenszel stratified association (Mantel & Haenszel
  // 1959): the common odds ratio of (high-discount exposure → returned
  // outcome) ADJUSTED for order priority, next to the marginal
  // (pooled) odds ratio that ignores it. When the strata are a
  // confounder the two disagree — Simpson's paradox — and the pooled
  // number is the WRONG one; q159 tests unstratified independence,
  // q244 adjusts across time, this adjusts across a categorical
  // confounder: the third leg of the observational-inference stack.
  //
  // Determinism: per-stratum MH terms R_k = (a_k·d_k·10⁶) div n_k and
  // S_k = (b_k·c_k·10⁶) div n_k are exact non-negative integers (the
  // fixed-point estimator — summing per-stratum DOUBLE terms would be
  // partition-order-dependent, the §7.0 float-summation hazard);
  // OR_MH·10³ = (10³·ΣR) div ΣS, all floored divisions on
  // non-negatives. Pooled OR likewise from the four pooled cells.
  //
  // Scale: ONE conditional aggregate over the joined fact (the 2×2×K
  // table is |priorities|-bounded); everything after runs on K rows.
  val q248: QuerySpec = QuerySpec(
    "q248_mantel_haenszel",
    (s, d) => {
      val big = DecimalType(38, 0)
      val exposed = col("l_discount") >= 0.06
      val outcome = col("l_returnflag") === "R"
      val cells = lineitem(s, d)
        .join(orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority").as("stratum")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("stratum")
        .agg(
          sum(when(exposed && outcome, 1L).otherwise(0L)).cast(big).as("a"),
          sum(when(exposed && !outcome, 1L).otherwise(0L)).cast(big).as("b"),
          sum(when(!exposed && outcome, 1L).otherwise(0L)).cast(big).as("c"),
          sum(when(!exposed && !outcome, 1L).otherwise(0L)).cast(big).as("dd"))
      cells
        .select(col("a"), col("b"), col("c"), col("dd"),
          expr("(a * dd * 1000000) div (a + b + c + dd)").as("r"),
          expr("(b * c * 1000000) div (a + b + c + dd)").as("s"))
        .agg(
          sum("a").as("a"), sum("b").as("b"), sum("c").as("c"), sum("dd").as("dd"),
          sum("r").cast(big).as("sr"), sum("s").cast(big).as("ss"))
        .select(
          col("a").cast("long").as("n_exp_out"),
          col("b").cast("long").as("n_exp_ok"),
          col("c").cast("long").as("n_ctl_out"),
          col("dd").cast("long").as("n_ctl_ok"),
          expr("CAST((1000 * a * dd) div (b * c) AS BIGINT)").as("or_marginal_milli"),
          expr("CAST((1000 * sr) div ss AS BIGINT)").as("or_mh_milli"))
    },
    Some(
      "WITH cells AS (SELECT o_orderpriority AS stratum, " +
        "CAST(sum(CASE WHEN l_discount >= 0.06 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS a, " +
        "CAST(sum(CASE WHEN l_discount >= 0.06 AND NOT l_returnflag = 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS b, " +
        "CAST(sum(CASE WHEN NOT l_discount >= 0.06 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS c, " +
        "CAST(sum(CASE WHEN NOT l_discount >= 0.06 AND NOT l_returnflag = 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS dd " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1), " +
        "terms AS (SELECT a, b, c, dd, " +
        "(a * dd * 1000000) // (a + b + c + dd) AS r, " +
        "(b * c * 1000000) // (a + b + c + dd) AS s FROM cells), " +
        "m AS (SELECT sum(a) AS a, sum(b) AS b, sum(c) AS c, sum(dd) AS dd, " +
        "sum(r) AS sr, sum(s) AS ss FROM terms) " +
        "SELECT CAST(a AS BIGINT) AS n_exp_out, CAST(b AS BIGINT) AS n_exp_ok, " +
        "CAST(c AS BIGINT) AS n_ctl_out, CAST(dd AS BIGINT) AS n_ctl_ok, " +
        "CAST((1000 * a * dd) // (b * c) AS BIGINT) AS or_marginal_milli, " +
        "CAST((1000 * sr) // ss AS BIGINT) AS or_mh_milli FROM m"
    ),
  )

  val all: Seq[QuerySpec] =
    Seq(q87, q187, q90, q93, q94, q95, q96, q97, q100, q101, q102, q105, q106, q107,
      q108, q109, q110, q112, q124, q129, q132, q133, q144, q147, q148, q154,
      q155, q158, q159, q160, q161, q162, q163, q165, q166, q167, q199, q200, q204,
      q206, q220, q227, q241, q247, q248, q255)
}
