package graft.ops

import graft.ops.Pin.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** q49–q54: classic OLAP surface the round-1/2 inventory did not yet
  * cover as first-class, oracle-checked operators — distribution
  * statistics (exact percentiles), multi-grain grouping (CUBE), pivot
  * (long→wide), ordered-window analytics (moving/cumulative frames,
  * ranking), and hopping event-time windows (the batch twin of a
  * sliding streaming aggregation).
  *
  * The reference has no counterpart for any of these (its aggregation
  * surface stops at GROUP BY + count/min/max/avg — SURVEY.md §2.2); they
  * are extensions in the same spirit as q39–q48: operators any analytics
  * engine at this data scale must provide, expressed as declarative
  * single-pass Spark plans and hash-checked against DuckDB.
  *
  * Scale notes are per query below. The common rules from q01–q24 hold
  * throughout: money/metric sums accumulate in exact decimals
  * ([[Exact]]), every result ends in a total ORDER BY, and no query
  * collects to the driver.
  */
object AnalyticQueries {
  import Tables._
  import Exact._

  // ---------------------------------------------------------------------
  // q49 — exact per-group percentiles (distribution profiling). Spark's
  // `percentile` is the exact sorted-interpolation aggregate, the same
  // linear-interpolation semantics as DuckDB's quantile_cont; both sides
  // round to 6dp to absorb last-bit fp differences in the interpolation.
  //
  // Scale: exact percentile buffers the per-group value multiset — memory
  // ∝ distinct values per group, fine for profiling runs and bounded
  // groups, wrong for arbitrary 100 TB groups. The production path at
  // scale is Spark's GK-sketch `percentile_approx` (mergeable, bounded
  // memory); this query is its exact twin.
  val q49: QuerySpec = QuerySpec(
    "q49_percentiles_exact",
    (s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(expr("percentile(value, 0.25)"), 6).as("p25"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.75)"), 6).as("p75"),
          dsum("value").as("sum_value"),
        )
        .orderBy("event_type"),
    Some(
      "SELECT event_type, count(*) AS n, " +
        "round(quantile_cont(value, 0.25), 6) AS p25, " +
        "round(quantile_cont(value, 0.5), 6) AS p50, " +
        "round(quantile_cont(value, 0.75), 6) AS p75, " +
        s"${dsumSql("value")} AS sum_value " +
        "FROM events GROUP BY 1 ORDER BY event_type"
    ),
  )

  // ---------------------------------------------------------------------
  // q50 — CUBE: all four grains of (status, year) in one pass, with
  // grouping() folded into 'ALL' labels so the result is null-free and
  // totally ordered (Spark and DuckDB disagree on default NULL sort
  // order; labels sidestep it).
  //
  // Scale: Spark plans CUBE as a single Expand (4 grouping sets) feeding
  // one partially-aggregated shuffle — input is read once; shuffle volume
  // is Σ per-grain group cardinalities, independent of fact rows. The
  // alternative (4 separate group-bys unioned) scans the fact 4×.
  val q50: QuerySpec = QuerySpec(
    "q50_cube_grains",
    (s, d) => {
      val o = orders(s, d)
        .select(col("o_orderstatus"), year(col("o_orderdate")).as("yr"), col("o_totalprice"))
      o.cube(col("o_orderstatus"), col("yr"))
        .agg(
          dsum("o_totalprice").as("total_price"),
          count(lit(1)).as("n_orders"),
          // grouping() resolves only inside the Cube aggregate itself
          grouping(col("o_orderstatus")).as("g_status"),
          grouping(col("yr")).as("g_yr"),
        )
        .select(
          when(col("g_status") === 1, lit("ALL"))
            .otherwise(col("o_orderstatus")).as("status_lbl"),
          when(col("g_yr") === 1, lit("ALL"))
            .otherwise(col("yr").cast("string")).as("yr_lbl"),
          col("total_price"),
          col("n_orders"),
        )
        .orderBy("status_lbl", "yr_lbl")
    },
    Some(
      "SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status_lbl, " +
        "CASE WHEN GROUPING(yr) = 1 THEN 'ALL' ELSE CAST(yr AS VARCHAR) END AS yr_lbl, " +
        s"${dsumSql("o_totalprice")} AS total_price, count(*) AS n_orders " +
        "FROM (SELECT o_orderstatus, year(o_orderdate) AS yr, o_totalprice FROM orders) " +
        "GROUP BY CUBE (o_orderstatus, yr) ORDER BY status_lbl, yr_lbl"
    ),
  )

  // ---------------------------------------------------------------------
  // q51 — pivot (long→wide): order totals per year, one column per
  // status. Explicit value list (F/O/P) — with it, Spark skips the
  // distinct-values pre-query and plans a single conditional-aggregate
  // pass, exactly the `sum(x) FILTER (WHERE …)` form the oracle runs.
  //
  // Scale: one scan + one group-by-year shuffle; wide columns are
  // conditional partial aggregates, so cost is rows × pivot-arity on the
  // map side and group-cardinality rows on the wire. Never pivot on an
  // unbounded-cardinality key (column count = key count); that is a
  // reshape job, not an aggregation.
  val q51: QuerySpec = QuerySpec(
    "q51_pivot_status",
    (s, d) =>
      orders(s, d)
        .select(
          year(col("o_orderdate")).as("yr"),
          col("o_orderstatus"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("p"),
        )
        .groupBy("yr")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("p")).cast("double"))
        .orderBy("yr"),
    Some(
      "SELECT year(o_orderdate) AS yr, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'F') AS DOUBLE) AS F, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'O') AS DOUBLE) AS O, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'P') AS DOUBLE) AS P " +
        "FROM orders GROUP BY 1 ORDER BY yr"
    ),
  )

  // ---------------------------------------------------------------------
  // q52 — ordered-window analytics over a rolled-up daily series:
  // 7-row trailing moving average + running cumulative revenue per
  // customer bucket. The frame sums stay in exact decimal (decimal
  // window sums are order-exact) and only surface doubles at the end;
  // the moving average divides the two exact frame aggregates rather
  // than using avg() (whose decimal widening rules differ between
  // engines).
  //
  // Scale: the rollup shrinks the fact to group cardinality BEFORE the
  // window (never window over raw facts when a pre-aggregation gives the
  // same answer); the window then shuffles once on the partition key and
  // sorts within partitions — per-key series length is bounded by the
  // date range, not fact rows.
  val q52: QuerySpec = QuerySpec(
    "q52_moving_window",
    (s, d) => {
      val daily = lineitem(s, d)
        .groupBy(
          (col("l_orderkey") % 10).as("cust"),
          col("l_shipdate").cast("date").as("day"),
        )
        .agg(revenueDecimal.as("rev"))
      val w = Window.partitionBy("cust").orderBy("day")
      val w7 = w.rowsBetween(-6, 0)
      daily
        .select(
          col("cust"),
          col("day"),
          col("rev").cast("double").as("revenue"),
          round(sum(col("rev")).over(w7).cast("double") / count(lit(1)).over(w7), 6).as("ma7"),
          sum(col("rev")).over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double").as("cum_revenue"),
        )
        .orderBy("cust", "day")
    },
    Some(
      "WITH daily AS (SELECT l_orderkey % 10 AS cust, CAST(l_shipdate AS DATE) AS day, " +
        s"$revenueDecimalSql AS rev " +
        "FROM lineitem GROUP BY 1, 2) " +
        "SELECT cust, day, CAST(rev AS DOUBLE) AS revenue, " +
        "round(CAST(sum(rev) OVER w7 AS DOUBLE) / count(*) OVER w7, 6) AS ma7, " +
        "CAST(sum(rev) OVER (PARTITION BY cust ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue " +
        "FROM daily WINDOW w7 AS (PARTITION BY cust ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) " +
        "ORDER BY cust, day"
    ),
  )

  // ---------------------------------------------------------------------
  // q53 — ranking functions: top-5 purchases per user-decile by value,
  // with rank / dense_rank / quartile. The ordering key includes the
  // unique event_id tie-break, so every ranking function is
  // deterministic (rank()-over-nonunique-keys is the classic
  // nondeterminism trap — both engines would be "correct" with
  // different answers).
  //
  // Scale: single window shuffle on the partition key; the top-5 filter
  // on row_number means downstream carries 5·partitions rows. (For
  // rank-free top-N per group, q39's bounded TopK aggregate is cheaper —
  // O(k) buffers, no full sort; this query exists for the ranking
  // semantics themselves.)
  val q53: QuerySpec = QuerySpec(
    "q53_ranking",
    (s, d) => {
      val purchases = events(s, d)
        .where(col("event_type") === "purchase")
        .select((col("user_id") % 10).as("bucket"), col("event_id"), col("value"))
      val w = Window.partitionBy("bucket").orderBy(col("value").desc, col("event_id"))
      purchases
        .select(
          col("bucket"),
          col("event_id"),
          col("value"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"),
          ntile(4).over(w).as("quartile"),
        )
        .where(col("rn") <= 5)
        .orderBy("bucket", "rn")
    },
    Some(
      "SELECT * FROM (SELECT user_id % 10 AS bucket, event_id, value, " +
        "row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk, " +
        "ntile(4) OVER w AS quartile " +
        "FROM events WHERE event_type = 'purchase' " +
        "WINDOW w AS (PARTITION BY user_id % 10 ORDER BY value DESC, event_id)) " +
        "WHERE rn <= 5 ORDER BY bucket, rn"
    ),
  )

  // ---------------------------------------------------------------------
  // q54 — hopping event-time window (size 10 min, slide 5 min): the
  // batch twin of a sliding streaming aggregation, as q28 is for
  // tumbling. Spark's window() assigns each event to size/slide = 2
  // overlapping windows; the oracle reproduces that assignment
  // explicitly (time_bucket at slide granularity, shifted by each
  // multiple of the slide, containment-filtered) — pinning the
  // window-assignment semantics, not just the sums.
  //
  // Scale: window() is a deterministic 2-row explode + tumbling-style
  // hash aggregate — shuffle carries (windows × groups) partials, with
  // map-side combine. In streaming the same expression runs under a
  // watermark with state eviction (graft.streaming twins).
  val q54: QuerySpec = QuerySpec(
    "q54_hopping_window",
    (s, d) =>
      events(s, d)
        .groupBy(
          window(col("ts"), "10 minutes", "5 minutes"),
          col("event_type"),
        )
        .agg(count(lit(1)).as("n_events"), dsum("value").as("sum_value"))
        .select(
          unix_seconds(col("window.start").cast("timestamp")).as("win_start_epoch"),
          col("event_type"),
          col("n_events"),
          col("sum_value"),
        )
        .orderBy("win_start_epoch", "event_type"),
    Some(
      "SELECT epoch_us(win_start) // 1000000 AS win_start_epoch, event_type, " +
        s"count(*) AS n_events, ${dsumSql("value")} AS sum_value " +
        "FROM (SELECT time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP)) - i * INTERVAL 5 MINUTE AS win_start, " +
        "ts, event_type, value FROM events CROSS JOIN (VALUES (0), (1)) AS shifts(i)) " +
        "WHERE CAST(ts AS TIMESTAMP) >= win_start AND CAST(ts AS TIMESTAMP) < win_start + INTERVAL 10 MINUTE " +
        "GROUP BY 1, 2 ORDER BY win_start_epoch, event_type"
    ),
  )

  // ---------------------------------------------------------------------
  // q56 — funnel analysis: how far each user progresses through the
  // ordered sequence view → click → purchase (each later step must
  // occur strictly after, and within 2 hours of, the user's earliest
  // completion of the prior step — the conversion-window form every
  // funnel product uses). Three stage-aggregations, each a filter + min-per-user —
  // the declarative form of sequence matching; no window over the raw
  // event stream.
  //
  // Scale: each stage is a key-partitioned aggregate on user_id; after
  // the first shuffle the stage joins are co-partitioned on the same
  // key (no re-shuffle under AQE), and every intermediate is one row
  // per qualifying user, monotonically shrinking down the funnel. The
  // final histogram is group-cardinality (4 rows).
  /** Per-user funnel depth (0..steps.length) over an events frame with
    * (user_id, event_type, ts): step i+1 counts only if it occurs
    * strictly after, and within `window` of, the user's earliest
    * qualifying completion of step i.
    */
  def funnelDepths(events: DataFrame, steps: Seq[String], window: String): DataFrame = {
    require(steps.nonEmpty, "funnelDepths needs at least one step")
    // project to the contract columns: extra caller columns would
    // collide with the internal d<i>/t/t_prev working names
    val ev = events.select("user_id", "event_type", "ts")
    val stageTimes = steps.zipWithIndex.foldLeft(List.empty[(Int, DataFrame)]) {
      case (acc, (step, i)) =>
        val base = ev.where(col("event_type") === step)
        val gated = acc.headOption match {
          case None => base
          case Some((_, prev)) =>
            base
              .join(prev.select(col("user_id"), col("t").as("t_prev")), "user_id")
              .where(col("ts") > col("t_prev") &&
                col("ts") <= col("t_prev") + expr(s"INTERVAL $window"))
        }
        (i, gated.groupBy("user_id").agg(min("ts").as("t"))) :: acc
    }
    stageTimes.reverse.foldLeft(ev.select("user_id").distinct()) {
      case (acc, (i, st)) =>
        acc.join(st.select(col("user_id"), lit(1).as(s"d$i")), Seq("user_id"), "left_outer")
    }.select(
      col("user_id"),
      steps.indices.map(i => coalesce(col(s"d$i"), lit(0))).reduce(_ + _).as("depth"),
    )
  }

  val q56: QuerySpec = QuerySpec(
    "q56_funnel",
    (s, d) =>
      funnelDepths(
        events(s, d).select("user_id", "event_type", "ts"),
        Seq("view", "click", "purchase"), "2 HOURS")
        .groupBy("depth").agg(count(lit(1)).as("n_users")).orderBy("depth"),
    Some(
      "WITH v AS (SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e JOIN v ON e.user_id = v.user_id " +
        "WHERE e.event_type = 'click' AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 2 HOUR GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e JOIN c ON e.user_id = c.user_id " +
        "WHERE e.event_type = 'purchase' AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 2 HOUR GROUP BY 1), " +
        "depth AS (SELECT u.user_id, " +
        "(CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END + " +
        "CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS depth " +
        "FROM (SELECT DISTINCT user_id FROM events) u " +
        "LEFT JOIN v ON u.user_id = v.user_id LEFT JOIN c ON u.user_id = c.user_id " +
        "LEFT JOIN p ON u.user_id = p.user_id) " +
        "SELECT depth, count(*) AS n_users FROM depth GROUP BY 1 ORDER BY depth"
    ),
  )

  // ---------------------------------------------------------------------
  // q57 — cohort retention: users grouped by first-active ISO week
  // (the cohort), distinct actives per (cohort, weeks-since). Both
  // engines truncate weeks to ISO Monday, so the cohort keys agree;
  // output keys are epoch seconds (the determinism rule for
  // timestamps).
  //
  // Scale: one min-per-user aggregate (the cohort map), one equijoin
  // back on user_id (co-partitioned after the first shuffle), one
  // count-distinct on (cohort, offset) — distinct-aggregation shuffles
  // (key, user) pairs, bounded by active users × weeks, not raw
  // events. At extreme user counts, countDistinct swaps for an HLL
  // sketch (`approx_count_distinct`) with the same plan shape.
  val q57: QuerySpec = QuerySpec(
    "q57_cohort_retention",
    (s, d) => {
      val ev = events(s, d).select(col("user_id"), col("ts").cast("date").as("day"))
      val cohorts = ev.groupBy("user_id")
        .agg(date_trunc("week", min("day")).cast("date").as("cohort_week"))
      ev.join(cohorts, "user_id")
        .select(
          col("user_id"),
          col("cohort_week"),
          (datediff(date_trunc("week", col("day")).cast("date"), col("cohort_week")) / 7)
            .cast("bigint").as("weeks_since"),
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(countDistinct("user_id").as("n_active"))
        .select(
          unix_date(col("cohort_week")).cast("bigint").as("cohort_epoch_day"),
          col("weeks_since"),
          col("n_active"),
        )
        .orderBy("cohort_epoch_day", "weeks_since")
    },
    Some(
      "WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "cohorts AS (SELECT user_id, CAST(date_trunc('week', min(day)) AS DATE) AS cohort_week FROM ev GROUP BY 1) " +
        "SELECT CAST(cohort_week - DATE '1970-01-01' AS BIGINT) AS cohort_epoch_day, " +
        "CAST((CAST(date_trunc('week', day) AS DATE) - cohort_week) / 7 AS BIGINT) AS weeks_since, " +
        "count(DISTINCT ev.user_id) AS n_active " +
        "FROM ev JOIN cohorts ON ev.user_id = cohorts.user_id " +
        "GROUP BY 1, 2 ORDER BY cohort_epoch_day, weeks_since"
    ),
  )

  // ---------------------------------------------------------------------
  // q58 — gaps-and-islands: longest streak of consecutive active days
  // per user (the complement of q13's gap detection). The classic
  // island id — day minus row_number is constant within a consecutive
  // run — turns streak detection into two ordinary aggregations; no
  // self-join, no iteration.
  //
  // Scale: distinct (user, day) first (shrinks events to active-days),
  // then one window partitioned by user (series bounded by the date
  // range), then two hash aggregates. All shuffles are on user_id —
  // one partitioning reused end-to-end.
  val q58: QuerySpec = QuerySpec(
    "q58_streaks",
    (s, d) => {
      val days = events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      val runs = days
        .withColumn("island", date_sub(col("day"), row_number().over(w)))
        .groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"), min("day").as("streak_start"))
      val best = Window.partitionBy("user_id")
        .orderBy(col("len").desc, col("streak_start").desc)
      runs
        .withColumn("rn", row_number().over(best))
        .where(col("rn") === 1)
        .select(
          col("user_id"),
          col("len").as("longest_streak"),
          col("streak_start").as("best_streak_start"),
        )
        .orderBy("user_id")
    },
    Some(
      "WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "islands AS (SELECT user_id, day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS island, day FROM days), " +
        "runs AS (SELECT user_id, island, count(*) AS len, min(day) AS streak_start FROM islands GROUP BY 1, 2) " +
        "SELECT user_id, len AS longest_streak, streak_start AS best_streak_start FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY len DESC, streak_start DESC) AS rn FROM runs) " +
        "WHERE rn = 1 ORDER BY user_id"
    ),
  )

  // ---------------------------------------------------------------------
  // q59 — semi-structured columns: extract a typed field from the JSON
  // `props` payload and aggregate it. `get_json_object` is a codegen'd
  // path expression evaluated streaming per row — no UDF, no
  // whole-document parse into a struct when one field is needed. (For
  // repeated multi-field access at scale, parse ONCE with from_json to
  // a struct column and prune from there; for one field, the path
  // expression is cheaper.)
  //
  // Scale: scan + partial agg, identical shape to q06; the JSON parse
  // cost is per-row CPU inside WholeStageCodegen, pipelined with the
  // scan.
  val q59: QuerySpec = QuerySpec(
    "q59_json_extract",
    (s, d) =>
      events(s, d)
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"),
        )
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          count(col("k")).as("n_parsed"), // counts only non-null extractions
          sum("k").as("sum_k"), // integral — exact in int64
          min("k").as("min_k"),
          max("k").as("max_k"),
        )
        .orderBy("event_type"),
    Some(
      // DuckDB widens sum(BIGINT) to HUGEINT — cast back so the types agree
      "SELECT event_type, count(*) AS n, " +
        "count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_parsed, " +
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
        "min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k, " +
        "max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k " +
        "FROM events GROUP BY 1 ORDER BY event_type"
    ),
  )

  // ---------------------------------------------------------------------
  // q60 — ordered string aggregation (LISTAGG/string_agg): the
  // reporting-layer reshape. Deterministic by construction:
  // collect_set → array_sort → array_join ≡ DuckDB
  // string_agg(DISTINCT … ORDER BY …); an unordered listagg would be
  // schedule-dependent and could never hash-match.
  //
  // Scale: collect_set buffers distinct members per group in the agg —
  // memory ∝ group's distinct cardinality. Right for bounded-cardinality
  // reporting groups (users-per-type here); for unbounded groups use
  // q39's bounded TopK or a sketch, not listagg.
  val q60: QuerySpec = QuerySpec(
    "q60_string_agg",
    (s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(
          array_join(array_sort(collect_set(col("user_id").cast("string"))), ",")
            .as("users_csv"),
          countDistinct("user_id").as("n_users"),
        )
        .orderBy("event_type"),
    Some(
      "SELECT event_type, " +
        "string_agg(DISTINCT CAST(user_id AS VARCHAR), ',' ORDER BY CAST(user_id AS VARCHAR)) AS users_csv, " +
        "count(DISTINCT user_id) AS n_users " +
        "FROM events GROUP BY 1 ORDER BY event_type"
    ),
  )

  // ---------------------------------------------------------------------
  // q61 — correlation via exact co-moments: corr(quantity, price) per
  // returnflag, accumulated as six DECIMAL sums (n, Σx, Σy, Σx², Σy²,
  // Σxy — all order-independent) with the Pearson formula applied once
  // in double at the end. Spark's built-in corr() streams double
  // co-moments whose low bits depend on task order — fine statistically,
  // but not reproducible run-to-run; this form is bit-stable under any
  // schedule (the engine's exactness rule applied to second moments).
  //
  // Scale: one partial-aggregated pass, six decimal accumulators per
  // group — same cost class as q07's min/max/avg.
  val q61: QuerySpec = QuerySpec(
    "q61_corr_exact",
    (s, d) => {
      val x = col("l_quantity").cast(DecimalType(18, 2))
      val y = col("l_extendedprice").cast(DecimalType(18, 2))
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(x).cast("double").as("s1"),
          sum(y).cast("double").as("s2"),
          sum(x * x).cast("double").as("s11"),
          sum(y * y).cast("double").as("s22"),
          sum(x * y).cast("double").as("s12"),
        )
        .select(
          col("l_returnflag"),
          round(
            (col("n") * col("s12") - col("s1") * col("s2")) /
              sqrt((col("n") * col("s11") - col("s1") * col("s1")) *
                (col("n") * col("s22") - col("s2") * col("s2"))),
            6,
          ).as("corr_qty_price"),
        )
        .orderBy("l_returnflag")
    },
    Some(
      "SELECT l_returnflag, round((n*s12 - s1*s2) / sqrt((n*s11 - s1*s1)*(n*s22 - s2*s2)), 6) AS corr_qty_price FROM (" +
        "SELECT l_returnflag, CAST(count(*) AS DOUBLE) n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) s1, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) s2, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) s11, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) s22, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) s12 " +
        "FROM lineitem GROUP BY 1) ORDER BY l_returnflag"
    ),
  )

  // ---------------------------------------------------------------------
  // q62 — unpivot (wide→long), the inverse of q51: melt the per-status
  // yearly totals back into (yr, status, total) rows. Spark's native
  // `unpivot` plans an Expand (row → arity copies, nulls dropped) — no
  // join, no union of re-scans.
  //
  // Scale: Expand multiplies rows by pivot arity BEFORE the shuffle but
  // carries only (id, name, value) — reshape of an already-aggregated
  // frame is cheap; never unpivot raw facts when the long form can be
  // aggregated directly.
  val q62: QuerySpec = QuerySpec(
    "q62_unpivot",
    (s, d) =>
      q51.run(s, d) // the wide frame: yr, F, O, P
        .unpivot(
          Array(col("yr")),
          Array(col("F"), col("O"), col("P")),
          "status",
          "total",
        )
        .where(col("total").isNotNull)
        .orderBy("yr", "status"),
    Some(
      // oracle: the long form directly (what unpivot must reconstruct)
      "SELECT year(o_orderdate) AS yr, o_orderstatus AS status, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY 1, 2 ORDER BY yr, status"
    ),
  )

  // ---------------------------------------------------------------------
  // q63 — heavy-hitter detection: keys holding more than a share
  // threshold of a table's rows — the diagnostic run BEFORE a big join
  // to decide whether to salt it (q46) or isolate hot keys. Exact form:
  // one partial-aggregated count + a total-count broadcast join.
  //
  // Scale: the groupBy shuffles one row per key per mapper; the total
  // is a 1-row broadcast. For cardinalities where even key-counts are
  // too big, the sketch path (`freqItems`) finds the same
  // hitters with bounded memory; this exact form is its anchor.
  val q63: QuerySpec = QuerySpec(
    "q63_heavy_hitters",
    (s, d) => {
      // ONE fact scan: the total derives from the group-cardinality
      // counts via an unpartitioned window (tiny frame), not a second
      // aggregate subplan over the table (Spark does not dedupe common
      // scan subplans).
      events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("share",
          round(col("cnt").cast("double") /
            sum("cnt").over(Window.partitionBy()), 6))
        .where(col("share") > 0.15)
        .select("event_type", "cnt", "share")
        .orderBy("event_type")
    },
    Some(
      "SELECT event_type, cnt, share FROM (" +
        "SELECT event_type, count(*) AS cnt, " +
        "round(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM events), 6) AS share " +
        "FROM events GROUP BY 1) WHERE share > 0.15 ORDER BY event_type"
    ),
  )

  // ---------------------------------------------------------------------
  // q64 — relative-standing ranks: percent_rank + cume_dist of customer
  // account balance within each nation. Both are rank-arithmetic over a
  // per-group sort — (rank-1)/(n-1) and rows≤current/n — so the values
  // are exact integer-derived doubles: bit-identical across engines, no
  // interpolation involved (contrast q49's quantile values).
  //
  // Scale: one shuffle on the partition key + per-group sort, same cost
  // class as q53's ranking family; no added state beyond the sort.
  val q64: QuerySpec = QuerySpec(
    "q64_percent_rank",
    (s, d) => {
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal"))
      customer(s, d)
        .select(
          col("c_nationkey"), col("c_custkey"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
        )
        .orderBy("c_nationkey", "c_custkey")
    },
    Some(
      "SELECT c_nationkey, c_custkey, " +
        "round(percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal), 6) AS pr, " +
        "round(cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal), 6) AS cd " +
        "FROM customer ORDER BY c_nationkey, c_custkey"
    ),
  )

  // ---------------------------------------------------------------------
  // q67 — robust central tendency: per-group trimmed mean (drop the
  // bottom and top 1% BY RANK, average the rest). Rank-based trimming
  // rather than clamping to interpolated percentile VALUES on purpose:
  // engines interpolate quantiles with different arithmetic (q49 needs
  // 6dp rounding to agree), and a value sitting exactly on a clamp
  // threshold would then be included on one side and excluded on the
  // other. percent_rank is integer-derived ⇒ the keep/drop decision is
  // bit-exact everywhere, and the kept values are the raw 2-dp prices,
  // which [[Exact.dsum]] accumulates exactly.
  //
  // Scale: a naive `percent_rank() OVER (PARTITION BY l_returnflag)`
  // sorts the FULL table in as many tasks as there are groups (3) —
  // measured 5.3× at the 16× probe, the classic few-groups window
  // bottleneck. This form instead ranks over the DISTINCT (group,
  // value) count frame: percent_rank of a row = rows-strictly-below /
  // (n-1), and all of a value's ties share it — so the 60M-row pass is
  // a parallel map-side-combined groupBy, and the per-group sort only
  // touches distinct values (bounded by the 2-dp price domain, ~10⁵
  // regardless of row count). Same numbers, scalable plan.
  /** The distinct-(group, value) count frame both q67 and q83 rank
    * over: one row per (l_returnflag, l_extendedprice) with `c` (its
    * row count), `below` (rows strictly below it in its group), and
    * `n` (the group total). The table-sized pass is a map-side-
    * combined groupBy; the windows only ever see the value domain.
    */
  private def priceCountFrame(s: org.apache.spark.sql.SparkSession, d: String) = {
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("l_extendedprice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("l_returnflag"))
    lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("c"))
      .withColumn("below", sum(col("c")).over(wCum) - col("c"))
      .withColumn("n", sum(col("c")).over(wAll))
  }

  val q67: QuerySpec = QuerySpec(
    "q67_trimmed_mean",
    (s, d) => {
      priceCountFrame(s, d)
        .withColumn("pr", col("below") / (col("n") - 1L))
        .where(col("pr") >= 0.01 && col("pr") <= 0.99)
        .groupBy("l_returnflag")
        .agg(
          round(
            sum(col("l_extendedprice").cast(DecimalType(18, 2)) * col("c")).cast("double") /
              sum(col("c")), 6).as("trimmed_avg"),
          sum(col("c")).as("n_kept"),
        )
        .orderBy("l_returnflag")
    },
    Some(
      "WITH r AS (SELECT l_returnflag, l_extendedprice, " +
        "percent_rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS pr " +
        "FROM lineitem) " +
        "SELECT l_returnflag, " +
        s"round(${Exact.dsumSql("l_extendedprice")} / count(*), 6) AS trimmed_avg, " +
        "count(*) AS n_kept " +
        "FROM r WHERE pr >= 0.01 AND pr <= 0.99 GROUP BY 1 ORDER BY l_returnflag"
    ),
  )

  // ---------------------------------------------------------------------
  // q73 — SCD2 change intervals: collapse each user's event stream into
  // type-change rows with [valid_from, valid_to) validity — the
  // slowly-changing-dimension history build every warehouse needs when
  // snapshots arrive as event streams. Two window passes: lag() finds
  // the change points, lead() OVER THE FILTERED frame closes each
  // interval at the next change (NULL = current). Both engines order by
  // the same (epoch-µs, event_id) key, so tie behavior cannot diverge
  // on the ns-vs-µs timestamp dialect difference.
  //
  // Scale: one shuffle on user_id, both windows reuse the partitioning
  // (q56/q58 rule); state per task = one row of lookback/lookahead.
  val q73: QuerySpec = QuerySpec(
    "q73_scd2_intervals",
    (s, d) => {
      val w1 = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      events(s, d)
        .select(
          col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w1))
        .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .select(
          col("user_id"), col("event_id"), col("event_type"),
          col("ts_us").as("valid_from_us"),
          lead(col("ts_us"), 1).over(w1).as("valid_to_us"),
        )
        .orderBy("user_id", "valid_from_us", "event_id")
    },
    Some(
      "WITH o AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type " +
        "FROM events), " +
        "c AS (SELECT user_id, event_id, event_type, ts_us FROM o " +
        "WHERE prev_type IS NULL OR prev_type <> event_type) " +
        "SELECT user_id, event_id, event_type, ts_us AS valid_from_us, " +
        "lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us " +
        "FROM c ORDER BY user_id, valid_from_us, event_id"
    ),
  )

  // ---------------------------------------------------------------------
  // q74 — aggregate reuse: monthly revenue computed FROM the daily
  // rollup (sum of sums), hash-matched against the oracle's direct
  // monthly aggregation of the fact table. This is the incremental-
  // aggregation contract — day partitions aggregate once, coarser
  // grains derive from the stored rollup without rescanning facts —
  // and it only holds because revenue accumulates in exact decimals
  // end to end (double partials would drift between the two routes).
  //
  // Scale: the reaggregation input is |days| rows, not |facts| — at
  // 100 TB this is the difference between a month-end report touching
  // ~30 stored rows per key and re-reading a month of raw data.
  val q74: QuerySpec = QuerySpec(
    "q74_reaggregate",
    (s, d) => {
      val daily = lineitem(s, d)
        .groupBy(col("l_shipdate").cast("date").as("day"))
        .agg(revenueDecimal.as("day_rev"))
      daily
        .groupBy(date_trunc("month", col("day")).cast("date").as("month"))
        .agg(
          sum(col("day_rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_days"),
        )
        .orderBy("month")
    },
    Some(
      "WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS day, " +
        s"$revenueDecimalSql AS day_rev FROM lineitem GROUP BY 1) " +
        "SELECT CAST(date_trunc('month', day) AS DATE) AS month, " +
        "CAST(sum(day_rev) AS DOUBLE) AS revenue, count(*) AS n_days " +
        "FROM daily GROUP BY 1 ORDER BY month"
    ),
  )

  // ---------------------------------------------------------------------
  // q80 — deterministic per-group mode: each user's most frequent event
  // type. NOT the built-in `mode()` (Spark's and DuckDB's are both
  // tie-NONdeterministic — an oracle hash can't survive that); the
  // explicit count + row_number form pins ties to the lexicographically
  // smallest type, identically in both engines.
  //
  // Scale: the heavy pass is the (user, type) count — map-side
  // combined, uniform keys; the window then ranks each user's TYPE
  // COUNTS (rows bounded by type cardinality, not events) — the same
  // aggregate-before-window shape as q67.
  val q80: QuerySpec = QuerySpec(
    "q80_mode_per_group",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("n").desc, col("event_type"))
      events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
        .orderBy("user_id")
    },
    Some(
      "WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2), " +
        "r AS (SELECT user_id, event_type, n, row_number() OVER (" +
        "PARTITION BY user_id ORDER BY n DESC, event_type) AS rn FROM c) " +
        "SELECT user_id, event_type AS mode_type, n FROM r WHERE rn = 1 ORDER BY user_id"
    ),
  )

  // ---------------------------------------------------------------------
  // q81 — explicit GROUPING SETS: exactly the grains a report needs —
  // (status, priority), (status), () — completing the multi-grain
  // family (q50 CUBE = all 2ᵏ grains, q23 ROLLUP = the hierarchy
  // prefix chain). Same physical shape as both: ONE fact scan, one
  // Expand (3 replicas here, vs CUBE's 4), one partially-aggregated
  // shuffle — requested grains only, no wasted (priority)-grain pass.
  val q81: QuerySpec = QuerySpec(
    "q81_grouping_sets",
    (s, d) => {
      val o = orders(s, d)
        .select(col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice"))
      o.groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")), Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          dsum("o_totalprice").as("total_price"),
          count(lit(1)).as("n_orders"),
          grouping(col("o_orderstatus")).as("g_s"),
          grouping(col("o_orderpriority")).as("g_p"),
        )
        .select(
          when(col("g_s") === 1, lit("ALL")).otherwise(col("o_orderstatus")).as("status_lbl"),
          when(col("g_p") === 1, lit("ALL")).otherwise(col("o_orderpriority")).as("prio_lbl"),
          col("total_price"),
          col("n_orders"),
        )
        .orderBy("status_lbl", "prio_lbl")
    },
    Some(
      "SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status_lbl, " +
        "CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS prio_lbl, " +
        s"${dsumSql("o_totalprice")} AS total_price, count(*) AS n_orders " +
        "FROM orders " +
        "GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ()) " +
        "ORDER BY status_lbl, prio_lbl"
    ),
  )

  // ---------------------------------------------------------------------
  // q82 — EXACT stratified sample: precisely ⌈20%·n⌉ documents per
  // source, selected by salted-hash rank. Complements the hash-
  // threshold family: q66's per-row rate draw is binomial (count
  // varies run-to-run-sized corpora), this guarantees the exact
  // per-stratum count — what a fixed-size eval set needs. Still
  // deterministic: the hash order is a pure function of doc ids.
  //
  // Scale: per-stratum row_number sort (q77's bound applies — TopK
  // bounded buffers are the swap-in for giant strata); the stratum
  // size comes from a count window over the same partitioning, no
  // second scan.
  val q82: QuerySpec = QuerySpec(
    "q82_stratified_sample",
    (s, d) => {
      val rank = md5(concat(lit("graft-strat:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("source")).orderBy(rank, col("doc_id"))
      val cw = Window.partitionBy(col("source"))
      documents(s, d)
        .select(col("source"), col("doc_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n_total", count(lit(1)).over(cw))
        .where(col("rn") <= ceil(col("n_total") * 0.2))
        .orderBy("source", "rn")
    },
    Some(
      "SELECT source, doc_id, CAST(rn AS BIGINT) AS rn, n_total FROM (" +
        "SELECT source, doc_id, " +
        "row_number() OVER (PARTITION BY source ORDER BY md5('graft-strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn, " +
        "CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_total " +
        "FROM documents) WHERE rn <= ceil(n_total * 0.2) ORDER BY source, rn"
    ),
  )

  // ---------------------------------------------------------------------
  // q83 — equi-depth histogram: 4 equal-count buckets of extendedprice
  // per returnflag (ntile over the total order (value, orderkey,
  // linenumber) — ties broken identically in both engines). Equi-DEPTH
  // (same rows per bucket), vs q09's equi-width and q49's point
  // percentiles — the optimizer-statistics histogram shape.
  //
  // Scale: NOT a row-level ntile window — with 3 groups that sorts the
  // whole table in 3 tasks (measured 6× at the 16× probe, the q67
  // few-groups-window bottleneck again). ntile's bucket boundaries are
  // pure RANK arithmetic — n rows split into k buckets, the first
  // n%k of size ⌈n/k⌉ — and a value whose c rows occupy ranks
  // (below, below+c] contributes overlap(bucket interval, rank
  // interval) rows to each bucket. Tied rows are interchangeable for
  // every aggregate here (same price), so computing the overlaps over
  // the DISTINCT (group, value) count frame reproduces the ntile
  // aggregates exactly: the table-sized pass is a map-side-combined
  // groupBy, the window sees only the value domain, and the 4-way
  // bucket explode is per-distinct-value, executor-local.
  val q83: QuerySpec = QuerySpec(
    "q83_equidepth_hist",
    (s, d) => {
      val k = 4
      priceCountFrame(s, d)
        .withColumn("qn", floor(col("n") / k).cast("long"))
        .withColumn("m", col("n") % k)
        .withColumn("bucket", explode(array((1 to k).map(b => lit(b.toLong)): _*)))
        .withColumn("bstart",
          (col("bucket") - 1) * col("qn") + least(col("bucket") - 1, col("m")) + 1)
        .withColumn("bend",
          col("bstart") + col("qn") + when(col("bucket") <= col("m"), 1L).otherwise(0L) - 1)
        .withColumn("ov",
          greatest(lit(0L),
            least(col("bend"), col("below") + col("c")) -
              greatest(col("bstart"), col("below") + 1) + 1))
        .where(col("ov") > 0)
        .groupBy("l_returnflag", "bucket")
        .agg(
          sum(col("ov")).as("n"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"),
          round(
            sum(col("l_extendedprice").cast(DecimalType(18, 2)) * col("ov")).cast("double") /
              sum(col("ov")), 6).as("avg_price"),
        )
        .orderBy("l_returnflag", "bucket")
    },
    Some(
      "WITH b AS (SELECT l_returnflag, l_extendedprice, " +
        "ntile(4) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket " +
        "FROM lineitem) " +
        "SELECT l_returnflag, CAST(bucket AS BIGINT) AS bucket, count(*) AS n, " +
        "min(l_extendedprice) AS lo, max(l_extendedprice) AS hi, " +
        s"round(${dsumSql("l_extendedprice")} / count(*), 6) AS avg_price " +
        "FROM b GROUP BY 1, 2 ORDER BY l_returnflag, bucket"
    ),
  )

  // ---------------------------------------------------------------------
  // q84 — set operators: customers ordering in 1997 but not 1998
  // (EXCEPT), and in both years (INTERSECT) — the cohort-membership
  // algebra q22's UNION started. Both compile to aggregate/join plans
  // (no row-by-row set state): EXCEPT ≡ left-anti on the distinct
  // frames, INTERSECT ≡ left-semi.
  val q84: QuerySpec = QuerySpec(
    "q84_set_ops",
    (s, d) => {
      def yr(y: Int) = orders(s, d)
        .where(year(col("o_orderdate")) === y).select(col("o_custkey")).distinct()
      val only97 = yr(1997).except(yr(1998))
      val both = yr(1997).intersect(yr(1998))
      def digest(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.agg(
          lit(tag).as("cohort"), count(lit(1)).as("n_customers"),
          min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"))
      digest(only97, "only_1997").unionByName(digest(both, "both_years")).orderBy("cohort")
    },
    Some(
      "WITH y97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997), " +
        "y98 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998), " +
        "e AS (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y98), " +
        "i AS (SELECT o_custkey FROM y97 INTERSECT SELECT o_custkey FROM y98) " +
        "SELECT 'only_1997' AS cohort, count(*) AS n_customers, min(o_custkey) AS min_cust, max(o_custkey) AS max_cust FROM e " +
        "UNION ALL " +
        "SELECT 'both_years', count(*), min(o_custkey), max(o_custkey) FROM i " +
        "ORDER BY cohort"
    ),
  )

  // ---------------------------------------------------------------------
  // q85 — time-weighted average: each reading holds until the next one,
  // so its weight is the interval it was live — THE metric for sampled
  // gauges (a value that held for 6 hours must count 360× one that
  // held a minute). Weighted over the integer `props.k` field (q59's
  // proven extraction) with integer µs durations: the k·dt products
  // accumulate in DECIMAL(38,0), exactly — a raw double·dt sum would
  // be task-order-dependent, breaking the §7.0 determinism rule. The
  // last reading per user has no successor ⇒ contributes no interval
  // (standard TWA convention).
  //
  // Scale: one shuffle on user_id; lead() is the only window, frame
  // state O(1).
  val q85: QuerySpec = QuerySpec(
    "q85_time_weighted_avg",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      events(s, d)
        .select(
          col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .withColumn("dt", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .where(col("dt").isNotNull)
        .groupBy("user_id")
        .agg(
          // decimal BEFORE the multiply: a long k·dt product overflows
          // 2⁶³ at gauge-scale values × year-long gaps (non-ANSI Spark
          // would wrap silently, DuckDB would throw — divergence at
          // exactly the scale this query targets)
          round(
            sum(col("k").cast(DecimalType(38, 0)) * col("dt")).cast("double") /
              sum(col("dt")), 6).as("twa_k"),
          sum(col("dt")).as("span_us"),
          count(lit(1)).as("n_intervals"),
        )
        // all-zero spans (every reading in one µs) have no well-defined
        // TWA — 0/0 is NaN in Spark and settings-dependent in DuckDB;
        // excluded by convention on both sides
        .where(col("span_us") > 0)
        .orderBy("user_id")
    },
    Some(
      "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events), " +
        "iv AS (SELECT user_id, k, " +
        "lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us AS dt FROM e) " +
        "SELECT user_id, " +
        "round(CAST(sum(CAST(k AS DECIMAL(38,0)) * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE), 6) AS twa_k, " +
        "CAST(sum(dt) AS BIGINT) AS span_us, count(*) AS n_intervals " +
        "FROM iv WHERE dt IS NOT NULL GROUP BY 1 HAVING sum(dt) > 0 ORDER BY user_id"
    ),
  )

  // ---------------------------------------------------------------------
  // q130 — exact weighted median: per (returnflag, linestatus), the
  // smallest extendedprice whose cumulative quantity-weight reaches
  // half the group total (lower weighted median — deterministic, no
  // interpolation). The oracle computes it the naive way: one
  // cumulative-sum window over each group's full price-level list —
  // a single task per group holding every level. The Spark plan is
  // the DISTRIBUTED form of the same prefix sum: levels bucket by a
  // fixed price quantization (order-preserving, any width works —
  // correctness never depends on it), cumulate within (group, bucket)
  // in parallel, and add a per-bucket offset from a window over the
  // ~100-row bucket-total table. The hash match proves the
  // prefix-sum decomposition reproduces the naive scan — the
  // q30→q41 relationship applied to ordered aggregation, and the
  // scale-safe answer to the q109-class "one window task per group"
  // trap.
  val q130: QuerySpec = QuerySpec(
    "q130_weighted_median",
    (s, d) => {
      // the level table is referenced twice (in-bucket cumsum + bucket
      // offsets) — materialize the one fact aggregation instead of
      // running it twice (the GraphOps multi-reference rule)
      val lv = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          col("l_extendedprice").as("v"))
        .agg(sum(col("l_quantity").cast("long")).as("w"))
        .withColumn("bkt", floor(col("v") / 1000.0).cast("long"))
        .pinLineage()
      val wIn = Window.partitionBy("l_returnflag", "l_linestatus", "bkt")
        .orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val inBkt = lv.withColumn("cin", sum("w").over(wIn))
      val wOff = Window.partitionBy("l_returnflag", "l_linestatus")
        .orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val wTot = Window.partitionBy("l_returnflag", "l_linestatus")
      val off = lv.groupBy("l_returnflag", "l_linestatus", "bkt")
        .agg(sum("w").as("bw"))
        .withColumn("boff", coalesce(sum("bw").over(wOff), lit(0L)))
        .withColumn("tot", sum("bw").over(wTot))
        .select("l_returnflag", "l_linestatus", "bkt", "boff", "tot")
      inBkt.join(off, Seq("l_returnflag", "l_linestatus", "bkt"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(min(when((col("boff") + col("cin")) * 2 >= col("tot"), col("v")))
          .as("w_median"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(
      "WITH lv AS (SELECT l_returnflag, l_linestatus, l_extendedprice AS v, " +
        "sum(CAST(l_quantity AS BIGINT)) AS w FROM lineitem GROUP BY 1, 2, 3), " +
        "c AS (SELECT *, sum(w) OVER (PARTITION BY l_returnflag, l_linestatus ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw, " +
        "sum(w) OVER (PARTITION BY l_returnflag, l_linestatus) AS tot FROM lv) " +
        "SELECT l_returnflag, l_linestatus, min(CASE WHEN 2*cumw >= tot THEN v END) AS w_median " +
        "FROM c GROUP BY 1, 2 ORDER BY 1, 2"
    ),
  )

  // ---------------------------------------------------------------------
  // q157 — percent-of-parent hierarchy shares: every nation's revenue
  // with its share of its REGION and the region's share of the TOTAL,
  // in one pass. The nested-grain relative view that absolute rollups
  // (q23/q50) and flat shares (q124's single ratio) don't give — "is
  // NATION_10 big, or is AFRICA just big" needs both levels at once.
  //
  // Determinism: revenue is exact cents in DECIMAL(38,0); both shares
  // are floored bp on non-negative operands (oracle divides in
  // HUGEINT, the §7.0 rule).
  //
  // Scale: the fact aggregates ONCE to the 25-row nation grain; both
  // parent sums are windows over that dimension-bounded frame — the
  // q78-exception class (bounded by the geography, not the data), so
  // the "unpartitioned" total window holds 25 rows at any corpus
  // size. Dims broadcast into the fact spine; customer⋈orders is the
  // one shuffle pair.
  val q157: QuerySpec = QuerySpec(
    "q157_hierarchy_share",
    (s, d) => {
      val big = DecimalType(38, 0)
      val nrev = orders(s, d)
        .join(broadcast(customer(s, d)), col("c_custkey") === col("o_custkey"))
        .join(broadcast(nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .join(broadcast(region(s, d)), col("r_regionkey") === col("n_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(big).as("cents"))
      nrev
        .withColumn("region_cents", sum("cents").over(Window.partitionBy("region")))
        .withColumn("total_cents", sum("cents").over(Window.partitionBy()))
        .select(
          col("region"), col("nation"),
          col("cents").cast("long").as("rev_cents"),
          expr("CAST((10000 * cents) div region_cents AS BIGINT)").as("share_of_region_bp"),
          expr("CAST((10000 * region_cents) div total_cents AS BIGINT)").as("region_share_bp"))
        .orderBy("region", "nation")
    },
    Some(
      "WITH nrev AS (SELECT r.r_name AS region, n.n_name AS nation, " +
        "CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS DECIMAL(38,0)) AS cents " +
        "FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey " +
        "JOIN nation n ON n.n_nationkey = c.c_nationkey " +
        "JOIN region r ON r.r_regionkey = n.n_regionkey GROUP BY 1, 2), " +
        "w AS (SELECT region, nation, cents, sum(cents) OVER (PARTITION BY region) AS region_cents, " +
        "sum(cents) OVER () AS total_cents FROM nrev) " +
        "SELECT region, nation, CAST(cents AS BIGINT) AS rev_cents, " +
        "CAST(CAST(10000 * cents AS HUGEINT) // CAST(region_cents AS HUGEINT) AS BIGINT) AS share_of_region_bp, " +
        "CAST(CAST(10000 * region_cents AS HUGEINT) // CAST(total_cents AS HUGEINT) AS BIGINT) AS region_share_bp " +
        "FROM w ORDER BY region, nation"
    ),
  )

  // ---------------------------------------------------------------------
  // q194 — CDC apply: replay a change-data-capture log (the
  // Debezium/MERGE INTO shape) into the final snapshot. The event
  // stream is read as a per-user op log — signup ⇒ insert, error ⇒
  // delete, everything else ⇒ upsert — ordered by (epoch-µs,
  // event_id), and the apply is LAST-OP-WINS with tombstone
  // semantics: a key whose final op is a delete is ABSENT from the
  // snapshot (what separates this from q19's LWW upsert, which never
  // removes), while an update after a delete re-materializes the row
  // (upsert semantics — no "row must exist" precondition to break
  // replay idempotence). Per surviving key the snapshot carries the
  // last value and the replay audit counts every MERGE emits
  // (ops/upserts/deletes seen).
  //
  // Scale: ONE shuffle on user_id — the ranking window and the
  // replay-count aggregation share the partitioning (q56/q58 rule);
  // at 100 TB this is the standard log-compaction pass, and because
  // last-op-wins is associative over (ts, event_id)-max it can fold
  // incrementally batch-by-batch (the q88 base-state discipline)
  // without replaying history.
  val q194: QuerySpec = QuerySpec(
    "q194_cdc_apply",
    (s, d) => {
      val op = when(col("event_type") === "signup", lit("I"))
        .when(col("event_type") === "error", lit("D"))
        .otherwise(lit("U"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      events(s, d)
        .select(
          col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          op.as("op"))
        .withColumn("rn", row_number().over(w))
        .groupBy("user_id")
        .agg(
          max(when(col("rn") === 1, col("op"))).as("last_op"),
          max(when(col("rn") === 1, col("ts_us"))).as("last_ts_us"),
          max(when(col("rn") === 1, round(col("value"), 2))).as("last_value"),
          count(lit(1)).as("n_ops"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deletes_replayed"),
        )
        .where(col("last_op") =!= "D")
        .select("user_id", "last_op", "last_ts_us", "last_value", "n_ops",
          "n_deletes_replayed")
        .orderBy("user_id")
    },
    Some(
      "WITH log AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us, " +
        "CASE WHEN event_type = 'signup' THEN 'I' WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn " +
        "FROM events) " +
        "SELECT user_id, max(CASE WHEN rn = 1 THEN op END) AS last_op, " +
        "max(CASE WHEN rn = 1 THEN ts_us END) AS last_ts_us, " +
        "max(CASE WHEN rn = 1 THEN round(value, 2) END) AS last_value, " +
        "count(*) AS n_ops, " +
        "CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes_replayed " +
        "FROM log GROUP BY user_id " +
        "HAVING max(CASE WHEN rn = 1 THEN op END) <> 'D' ORDER BY user_id"
    ),
  )

  // ---------------------------------------------------------------------
  // q205 — effective-dated rate normalization: revalue every order in
  // a reference currency using a GENERATED monthly rate dimension
  // (the fx/effective-dated-dimension join every multi-currency
  // warehouse runs on load). Rates are a deterministic function of
  // the month index (both engines generate the identical 84-row
  // table — a dimension can be an expression, not just a file);
  // revenue accumulates DECIMAL-exact with the micro-rate multiply
  // inside the decimal domain, double only on output (the X8 house
  // rule).
  //
  // Scale: the rate dimension is calendar-sized — it BROADCASTS, and
  // the join key (the order's month) derives in the scan, so the
  // fact never shuffles for the join at all; the only exchange is
  // the monthly rollup. When validity boundaries do NOT align to a
  // calendar grain, the same dimension feeds [[graft.ops.AsOf]]
  // instead (q47/q201) — grain-aligned equijoin is the cheaper plan
  // and is chosen deliberately here.
  val q205: QuerySpec = QuerySpec(
    "q205_rate_normalized_revenue",
    (s, d) => {
      val dec = DecimalType(18, 2)
      val rates = s.range(1)
        .select(explode(sequence(
          lit("1992-01-01").cast("date"), lit("1998-12-01").cast("date"),
          expr("interval 1 month"))).as("month_start"))
        .withColumn("mi",
          months_between(col("month_start"), lit("1992-01-01").cast("date")).cast("long"))
        .withColumn("rate_micro", lit(1000000L) + (col("mi") * 37939) % 500000)
        .select("month_start", "rate_micro")
      orders(s, d)
        .select(
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          col("o_totalprice").cast(dec).as("price"))
        .join(broadcast(rates), Seq("month_start"))
        .groupBy("month_start")
        .agg(
          count(lit(1)).as("n_orders"),
          max(col("rate_micro")).as("rate_micro"),
          ((sum(col("price") * col("rate_micro")) / 1000000)
            .cast(DecimalType(38, 2))).cast("double").as("revenue_norm"))
        .select(
          unix_date(col("month_start")).cast("long").as("month_start"),
          col("n_orders"), col("rate_micro"), col("revenue_norm"))
        .orderBy("month_start")
    },
    Some(
      "WITH rates AS (SELECT CAST(m AS DATE) AS month_start, " +
        "CAST(datediff('month', DATE '1992-01-01', CAST(m AS DATE)) AS BIGINT) AS mi " +
        "FROM (SELECT unnest(generate_series(DATE '1992-01-01', DATE '1998-12-01', INTERVAL 1 MONTH)) AS m)), " +
        "r2 AS (SELECT month_start, 1000000 + (mi * 37939) % 500000 AS rate_micro FROM rates), " +
        "o AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start, " +
        "CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders) " +
        "SELECT datediff('day', DATE '1970-01-01', o.month_start) AS month_start, " +
        "count(*) AS n_orders, CAST(max(rate_micro) AS BIGINT) AS rate_micro, " +
        "CAST(CAST(sum(price * rate_micro) / 1000000 AS DECIMAL(38,2)) AS DOUBLE) AS revenue_norm " +
        "FROM o JOIN r2 USING (month_start) GROUP BY 1 ORDER BY month_start"
    ),
  )

  // ---------------------------------------------------------------------
  // q207 — RANGE-frame rolling window: trailing 28 CALENDAR DAYS of
  // revenue per return flag, as a RANGE BETWEEN 27 PRECEDING frame
  // over the epoch-day order key. The capability q52's ROWS frames
  // cannot express: on a series with missing days, "last 7 rows" and
  // "last 7 days" disagree — a ROWS frame silently stretches over
  // gaps (averaging January into March across a quiet February),
  // while the RANGE frame is calendar-true. The emitted
  // days-observed count makes the difference auditable: it varies
  // exactly where the series has holes.
  //
  // Scale: rollup to (flag, day) BEFORE the window (the q52 rule);
  // the range frame runs over the partitioned sort with running
  // frame state — same cost class as ROWS. Sums are DECIMAL-exact
  // cents (order-independent).
  val q207: QuerySpec = QuerySpec(
    "q207_range_frame_rolling",
    (s, d) => {
      val dec = DecimalType(18, 2)
      val daily = lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"), col("l_shipdate").cast("date").as("day"))
        .agg((sum(col("l_extendedprice").cast(dec)) * 100).cast("long").as("cents"))
        .withColumn("day", unix_date(col("day")).cast("long"))
      val w = Window.partitionBy("flag").orderBy("day").rangeBetween(-27, 0)
      daily
        .select(
          col("flag"), col("day"), col("cents"),
          sum(col("cents")).over(w).as("r28_cents"),
          count(lit(1)).over(w).as("r28_days"))
        .orderBy("flag", "day")
    },
    Some(
      "WITH daily AS (SELECT l_returnflag AS flag, " +
        "datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents " +
        "FROM lineitem GROUP BY 1, 2) " +
        "SELECT flag, day, cents, " +
        "CAST(sum(cents) OVER w AS BIGINT) AS r28_cents, " +
        "count(*) OVER w AS r28_days " +
        "FROM daily WINDOW w AS (PARTITION BY flag ORDER BY day " +
        "RANGE BETWEEN 27 PRECEDING AND CURRENT ROW) ORDER BY flag, day"
    ),
  )

  // ---------------------------------------------------------------------
  // q210 — FIFO allocation: match each "issue" of a part against its
  // "receipts" in first-in-first-out order (receipts = odd
  // linenumbers, issues = even — a deterministic split of the same
  // fact) and report per-part matched and short quantities. The
  // INTERVAL-ALGEBRA form that makes FIFO declarative: cumulative
  // quantity turns each receipt and each issue into an interval on
  // the part's quantity axis ([cum−qty, cum)), and FIFO matching IS
  // interval overlap — matched(i, r) = max(0, min(hi) − max(lo)).
  // No iterative "consume the oldest batch" loop, no per-part
  // recursion: two window cumsums + one overlap join.
  //
  // Determinism: quantities are exact integers; interval ends come
  // from cumsums over the total (date, linenumber, orderkey) order.
  //
  // Scale: both cumsums ride ONE part-key partitioning; the overlap
  // join is part-keyed (per-part pair count is bounded by run
  // lengths, and the overlap predicate prunes inside the join). At
  // 100 TB the quantity axis also BANDS (join on cum div B buckets)
  // to bound per-pair work — same trick as the q48 range join.
  val q210: QuerySpec = QuerySpec(
    "q210_fifo_allocation",
    (s, d) => {
      val li = lineitem(s, d).select(
        col("l_partkey").as("pk"), col("l_orderkey").as("ok"),
        col("l_linenumber").as("ln"), col("l_shipdate").as("dt"),
        col("l_quantity").cast("long").as("qty"))
      val w = Window.partitionBy("pk").orderBy("dt", "ok", "ln")
      def side(cond: org.apache.spark.sql.Column, name: String) = li.where(cond)
        .withColumn("hi", sum(col("qty")).over(w))
        .select(col("pk"), (col("hi") - col("qty")).as(s"${name}_lo"), col("hi").as(s"${name}_hi"))
      val rcpt = side(col("ln") % 2 === 1, "r")
      val issue = side(col("ln") % 2 === 0, "i")
      val matched = issue.join(rcpt,
        issue("pk") === rcpt("pk") &&
          col("r_lo") < col("i_hi") && col("i_lo") < col("r_hi"))
        .select(issue("pk").as("pk"),
          (least(col("r_hi"), col("i_hi")) - greatest(col("r_lo"), col("i_lo"))).as("m"))
        .groupBy("pk").agg(sum(col("m")).as("matched_qty"), count(lit(1)).as("n_matches"))
      val totals = issue.groupBy("pk").agg(max(col("i_hi")).as("issued_qty"))
      totals.join(matched, Seq("pk"), "left")
        .select(
          col("pk"),
          col("issued_qty"),
          coalesce(col("matched_qty"), lit(0L)).as("matched_qty"),
          (col("issued_qty") - coalesce(col("matched_qty"), lit(0L))).as("short_qty"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"))
        .orderBy("pk")
    },
    Some(
      "WITH li AS (SELECT l_partkey AS pk, l_orderkey AS ok, l_linenumber AS ln, " +
        "l_shipdate AS dt, CAST(l_quantity AS BIGINT) AS qty FROM lineitem), " +
        "r AS (SELECT pk, sum(qty) OVER w - qty AS r_lo, sum(qty) OVER w AS r_hi FROM li WHERE ln % 2 = 1 " +
        "WINDOW w AS (PARTITION BY pk ORDER BY dt, ok, ln)), " +
        "i AS (SELECT pk, sum(qty) OVER w - qty AS i_lo, sum(qty) OVER w AS i_hi FROM li WHERE ln % 2 = 0 " +
        "WINDOW w AS (PARTITION BY pk ORDER BY dt, ok, ln)), " +
        "m AS (SELECT i.pk, least(r_hi, i_hi) - greatest(r_lo, i_lo) AS mq " +
        "FROM i JOIN r ON i.pk = r.pk AND r_lo < i_hi AND i_lo < r_hi), " +
        "ma AS (SELECT pk, CAST(sum(mq) AS BIGINT) AS matched_qty, count(*) AS n_matches FROM m GROUP BY 1), " +
        "t AS (SELECT pk, CAST(max(i_hi) AS BIGINT) AS issued_qty FROM i GROUP BY 1) " +
        "SELECT t.pk, issued_qty, coalesce(matched_qty, 0) AS matched_qty, " +
        "issued_qty - coalesce(matched_qty, 0) AS short_qty, " +
        "CAST(coalesce(n_matches, 0) AS BIGINT) AS n_matches " +
        "FROM t LEFT JOIN ma ON t.pk = ma.pk ORDER BY t.pk"
    ),
  )

  // ---------------------------------------------------------------------
  // q215 — materialized-view maintenance by PARTIAL-STATE MERGE: the
  // stored MV state for history (everything before the delta cutoff)
  // and the freshly-aggregated delta slice merge into the new MV by
  // state algebra alone — counts add, decimal sums add, min/max
  // combine, and the served avg derives from (sum, count) at read
  // time. Hash-matching the merged result against the oracle's
  // from-scratch recompute IS the algebraic-identity proof. q74
  // re-aggregates a stored rollup to a coarser grain; this is the
  // orthogonal maintenance axis — same grain, new data, history never
  // rescanned.
  //
  // Scale: at 100 TB the history term is |groups| rows (the stored
  // MV), not |facts|; only the delta slice scans raw data, so daily
  // maintenance cost is ∝ the day's arrivals. Every state column is
  // mergeable (the same shapes Spark's own partial aggregation
  // exchanges), decimal-exact so merged-vs-recomputed can never
  // drift. Groups untouched by the delta pass through the merge
  // byte-identical — the agg-state analog of replace-by-partition.
  val q215: QuerySpec = QuerySpec(
    "q215_mv_state_merge",
    (s, d) => {
      val cut = lit("1998-06-01").cast("date")
      val src = lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          date_trunc("month", col("l_shipdate").cast("date")).cast("date").as("month"),
          col("l_shipdate").cast("date").as("day"),
          col("l_quantity").cast(DecimalType(18, 2)).as("qty"),
          col("l_extendedprice"), col("l_discount"))
      def state(df: DataFrame): DataFrame = df
        .groupBy("flag", "month")
        .agg(
          count(lit(1)).as("n"),
          sum(col("qty")).as("qty"),
          revenueDecimal.as("rev"),
          min(col("day")).as("min_day"),
          max(col("day")).as("max_day"))
      val history = state(src.where(col("day") < cut))
      val delta = state(src.where(col("day") >= cut))
      history.unionByName(delta)
        .groupBy("flag", "month")
        .agg(
          sum(col("n")).as("n"),
          sum(col("qty")).as("qty_dec"),
          sum(col("rev")).as("rev_dec"),
          min(col("min_day")).as("min_day"),
          max(col("max_day")).as("max_day"))
        .select(
          col("flag"), col("month"), col("n"),
          col("qty_dec").cast("double").as("sum_qty"),
          col("rev_dec").cast("double").as("revenue"),
          col("min_day"), col("max_day"),
          round(col("qty_dec").cast("double") / col("n"), 6).as("avg_qty"))
        .orderBy("flag", "month")
    },
    Some(
      "SELECT l_returnflag AS flag, " +
        "CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS month, " +
        "count(*) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        s"CAST($revenueDecimalSql AS DOUBLE) AS revenue, " +
        "min(CAST(l_shipdate AS DATE)) AS min_day, " +
        "max(CAST(l_shipdate AS DATE)) AS max_day, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty " +
        "FROM lineitem GROUP BY 1, 2 ORDER BY flag, month"
    ),
  )

  // ---------------------------------------------------------------------
  // q221 — aggregate maintenance under a CDC log (updates AND deletes):
  // maintain per-group SUM/alive-count by folding signed deltas off the
  // change stream — each key's contribution is its value while alive, 0
  // after a delete; the delta of an op is contribution − previous
  // contribution — and hash-match the folded result against the
  // oracle's recompute from the APPLIED SNAPSHOT (q194's rn=1 rule).
  // Completes the maintenance family: q74 re-grains stored rollups,
  // q215 merges append-only partial states, this one absorbs
  // retractions — the shape a 100 TB fact under upsert/delete traffic
  // (GDPR erasure, late corrections) actually needs, where "recompute
  // the group" means re-reading history but "fold the delta" touches
  // only the day's changes.
  //
  // Determinism: values are round(·,2) decimals end-to-end, so deltas
  // and their sums are exact; the per-key lag window orders on
  // (ts, event_id) — total. `churn` (Σ|delta|) is the write-traffic
  // metric a maintenance planner reads: it bounds how much the
  // maintained aggregate actually moved regardless of net effect.
  //
  // Scale: one log scan; the lag window partitions by key (the same
  // exchange the CDC apply needs anyway); both aggregates are
  // map-side-combinable decimals. Nothing rescans history — that is
  // the point being proven against the snapshot-recompute oracle.
  val q221: QuerySpec = QuerySpec(
    "q221_cdc_agg_maintenance",
    (s, d) => {
      val dec = DecimalType(18, 2)
      val op = when(col("event_type") === "signup", lit("I"))
        .when(col("event_type") === "error", lit("D"))
        .otherwise(lit("U"))
      val log = events(s, d).select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        op.as("op"), round(col("value"), 2).cast(dec).as("v"))
      val wk = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val folded = log
        .withColumn("c", when(col("op") === "D", lit(0).cast(dec)).otherwise(col("v")))
        .withColumn("delta", col("c") - coalesce(lag("c", 1).over(wk), lit(0).cast(dec)))
        .withColumn("rn_last", row_number().over(
          Window.partitionBy("user_id").orderBy(col("ts_us").desc, col("event_id").desc)))
      val perKey = folded.groupBy("user_id")
        .agg(
          sum(col("delta")).as("key_sum"),
          sum(abs(col("delta"))).as("key_churn"),
          count(lit(1)).as("key_ops"),
          max(when(col("rn_last") === 1 && col("op") =!= "D", 1L).otherwise(0L)).as("alive"))
      perKey.groupBy((col("user_id") % 10).as("grp"))
        .agg(
          sum(col("alive")).as("n_alive"),
          sum(col("key_sum")).cast("double").as("sum_value"),
          sum(col("key_ops")).as("n_ops"),
          sum(col("key_churn")).cast("double").as("churn"))
        .orderBy("grp")
    },
    Some(
      // the INDEPENDENT path: apply the log to a snapshot (q194's rule),
      // aggregate the survivors — only churn reuses the windowed fold
      // (it has no snapshot equivalent by construction).
      "WITH log AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "CASE WHEN event_type = 'signup' THEN 'I' WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, " +
        "CAST(round(value, 2) AS DECIMAL(18,2)) AS v FROM events), " +
        "seq AS (SELECT *, CASE WHEN op = 'D' THEN CAST(0 AS DECIMAL(18,2)) ELSE v END AS c, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn " +
        "FROM log), " +
        "delta AS (SELECT user_id, c - coalesce(lag(c, 1) OVER " +
        "(PARTITION BY user_id ORDER BY ts_us, event_id), CAST(0 AS DECIMAL(18,2))) AS d FROM seq), " +
        "churn AS (SELECT user_id % 10 AS grp, CAST(sum(abs(d)) AS DOUBLE) AS churn, " +
        "count(*) AS n_ops FROM delta GROUP BY 1), " +
        "snap AS (SELECT user_id, max(CASE WHEN rn = 1 THEN op END) AS last_op, " +
        "max(CASE WHEN rn = 1 THEN v END) AS last_v FROM seq GROUP BY 1), " +
        "agg AS (SELECT user_id % 10 AS grp, " +
        "CAST(count(CASE WHEN last_op <> 'D' THEN 1 END) AS BIGINT) AS n_alive, " +
        "CAST(sum(CASE WHEN last_op <> 'D' THEN last_v ELSE 0 END) AS DOUBLE) AS sum_value " +
        "FROM snap GROUP BY 1) " +
        "SELECT agg.grp AS grp, n_alive, sum_value, n_ops, churn " +
        "FROM agg JOIN churn ON agg.grp = churn.grp ORDER BY grp"
    ),
  )

  // ---------------------------------------------------------------------
  // q223 — top-k merge audit: the global top-5 users by event count
  // computed the RIGHT way (full aggregate, then rank) side by side
  // with the pre-aggregated-rollup way every naive warehouse tries —
  // union the daily top-5 lists, re-aggregate only those candidates,
  // rank. Top-k does NOT distribute over union (a steady-but-never-
  // daily-top user can out-total a bursty one), and this query is the
  // audit that MEASURES the discrepancy per rank instead of assuming
  // it away: `agree` flags rank-for-rank matches, `missed_total` is
  // the true count the merged path would have served wrong. q63's
  // SpaceSaving sketch exists precisely because of this gap — the
  // mergeable-with-error-bound alternative; this is its exact-world
  // justification table.
  //
  // Scale: both paths are one map-side-combined count each (daily
  // grain and total grain); the candidate set is ≤ 5·|days| user ids
  // (semi-join back, broadcastable); ranks are TakeOrdered(5) — no
  // global sort. All integer; ties break on user_id everywhere.
  val q223: QuerySpec = QuerySpec(
    "q223_topk_merge_audit",
    (s, d) => {
      val ev = events(s, d)
      val wDay = Window.partitionBy("day").orderBy(col("n").desc, col("user_id").asc)
      val cand = ev
        .groupBy(col("ts").cast("date").as("day"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(wDay))
        .where(col("rn") <= 5)
        .select("user_id").distinct()
      val totals = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      def top5(df: DataFrame, tag: String): DataFrame = df
        .orderBy(col("n").desc, col("user_id").asc).limit(5)
        .withColumn(s"${tag}_rank",
          row_number().over(Window.orderBy(col("n").desc, col("user_id").asc)))
        .select(col(s"${tag}_rank"),
          col("user_id").as(s"${tag}_user"), col("n").as(s"${tag}_n"))
      val t = top5(totals, "true")
      val m = top5(totals.join(cand, Seq("user_id"), "left_semi"), "merged")
      t.join(m, col("true_rank") === col("merged_rank"))
        .select(
          col("true_rank").as("rank"),
          col("true_user"), col("true_n"),
          col("merged_user"), col("merged_n"),
          (col("true_user") === col("merged_user")).as("agree"),
          (col("true_n") - col("merged_n")).as("missed_total"))
        .orderBy("rank")
    },
    Some(
      "WITH daily AS (SELECT CAST(ts AS DATE) AS day, user_id, count(*) AS n FROM events GROUP BY 1, 2), " +
        "cand AS (SELECT DISTINCT user_id FROM (SELECT user_id, row_number() OVER " +
        "(PARTITION BY day ORDER BY n DESC, user_id) AS rn FROM daily) WHERE rn <= 5), " +
        "tot AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1), " +
        "t AS (SELECT row_number() OVER (ORDER BY n DESC, user_id) AS rank, " +
        "user_id AS true_user, n AS true_n FROM tot ORDER BY n DESC, user_id LIMIT 5), " +
        "m AS (SELECT row_number() OVER (ORDER BY n DESC, user_id) AS rank, " +
        "user_id AS merged_user, n AS merged_n FROM tot " +
        "WHERE user_id IN (SELECT user_id FROM cand) ORDER BY n DESC, user_id LIMIT 5) " +
        "SELECT t.rank AS rank, true_user, true_n, merged_user, merged_n, " +
        "true_user = merged_user AS agree, true_n - merged_n AS missed_total " +
        "FROM t JOIN m ON t.rank = m.rank ORDER BY rank"
    ),
  )

  val all: Seq[QuerySpec] =
    Seq(q49, q50, q51, q52, q53, q54, q56, q57, q58, q59, q60, q61, q62, q63, q64, q67,
      q73, q74, q80, q81, q82, q83, q84, q85, q130, q157, q194, q205, q207, q210, q215,
      q221, q223)
}
