package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** q168–q176: agreement/divergence statistics, corpus-law diagnostics,
  * physical-layout planning (compaction bins, Z-order), and the two
  * remaining classic TPC-H join shapes (Q10 returned-item top-N, Q9
  * product profit).
  *
  * Extensions in the q39–q63 spirit: no reference counterpart (the
  * reference's analytics stop at counts/min/max/avg, SURVEY.md §2.1
  * A1–A7), but operators a 100 TB training-data engine needs as
  * first-class, oracle-checked citizens. House determinism rules
  * (SURVEY.md §7.0) throughout: exact integer/decimal accumulation,
  * one double step at the end, total ORDER BY.
  */
object StatQueries {
  import Exact._
  import Tables._

  // ---------------------------------------------------------------------
  // q168 — Cohen's kappa between two binary raters derived from the
  // fact row (discount-band vs tax-band): chance-corrected agreement,
  // completing the q158/q159/q162 test-statistic family (rank-sum, χ²,
  // KS, now inter-rater agreement — the label-quality statistic every
  // annotation pipeline reports).
  //
  // Determinism: the confusion matrix is four exact integer counts from
  // ONE aggregate; kappa assembles from them in a single double step
  // (κ = (n·agree − Σ marginal products) / (n² − Σ marginal products))
  // and rounds to 6 (the q61 budget).
  //
  // Scale: one map-side-combined aggregate over the fact; output is a
  // single row. Nothing grows with data but the scan.
  val q168: QuerySpec = QuerySpec(
    "q168_cohens_kappa",
    (s, d) => {
      val r1 = col("l_discount") >= 0.05
      val r2 = col("l_tax") >= 0.04
      lineitem(s, d)
        .agg(
          count(lit(1)).as("n"),
          sum(when(r1 && r2, 1L).otherwise(0L)).as("n11"),
          sum(when(r1 && !r2, 1L).otherwise(0L)).as("n10"),
          sum(when(!r1 && r2, 1L).otherwise(0L)).as("n01"),
          sum(when(!r1 && !r2, 1L).otherwise(0L)).as("n00"))
        .select(
          col("n"),
          (col("n11") + col("n00")).as("n_agree"),
          round(
            (col("n").cast("double") * (col("n11") + col("n00")) -
              ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
                (col("n01") + col("n00")) * (col("n10") + col("n00"))).cast("double")) /
              (col("n").cast("double") * col("n") -
                ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
                  (col("n01") + col("n00")) * (col("n10") + col("n00"))).cast("double")),
            6).as("kappa"))
    },
    Some(
      "WITH m AS (SELECT count(*) AS n, " +
        "sum(CASE WHEN l_discount >= 0.05 AND l_tax >= 0.04 THEN 1 ELSE 0 END) AS n11, " +
        "sum(CASE WHEN l_discount >= 0.05 AND NOT l_tax >= 0.04 THEN 1 ELSE 0 END) AS n10, " +
        "sum(CASE WHEN NOT l_discount >= 0.05 AND l_tax >= 0.04 THEN 1 ELSE 0 END) AS n01, " +
        "sum(CASE WHEN NOT l_discount >= 0.05 AND NOT l_tax >= 0.04 THEN 1 ELSE 0 END) AS n00 " +
        "FROM lineitem) " +
        "SELECT n, CAST(n11 + n00 AS BIGINT) AS n_agree, " +
        "round((CAST(n AS DOUBLE) * (n11 + n00) - " +
        "CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) * n - " +
        "CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)), 6) AS kappa " +
        "FROM m"
    ),
  )

  // ---------------------------------------------------------------------
  // q169 — Jensen–Shannon divergence between the token distributions of
  // two corpus slices (en vs fr): the distribution-drift statistic a
  // training pipeline runs between snapshots / sources before deciding
  // a mixture change. JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q),
  // computed per-token from exact integer counts.
  //
  // Determinism: counts are exact; each token contributes one double
  // term and the vocab-bounded sum rounds to 4 AFTER aggregation (the
  // q163 budget — values O(1), error 1e-15).
  //
  // Scale: token counts partial-aggregate map-side; the per-token frame
  // is vocab-sized (Heaps-bounded, the q78 rule), so the full-outer
  // alignment join and the final fold never grow with the corpus.
  val q169: QuerySpec = QuerySpec(
    "q169_js_divergence",
    (s, d) => {
      val tok = documents(s, d)
        .where(col("lang").isin("en", "fr"))
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
      val counts = tok.groupBy("w")
        .agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ca"),
          sum(when(col("lang") === "fr", 1L).otherwise(0L)).as("cb"))
      val tot = counts.agg(
        sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).as("vocab"))
      val p = col("ca").cast("double") / col("na")
      val q = col("cb").cast("double") / col("nb")
      val m = (p + q) / 2
      counts.crossJoin(tot) // 1-row totals anchor
        .select(col("na"), col("nb"), col("vocab"),
          (when(col("ca") > 0, p * log(p / m)).otherwise(lit(0.0)) +
            when(col("cb") > 0, q * log(q / m)).otherwise(lit(0.0))).as("t"))
        .groupBy("na", "nb", "vocab")
        .agg(round(sum(col("t")) / 2, 4).as("jsd_nats"))
        .select(col("na").as("n_tokens_a"), col("nb").as("n_tokens_b"),
          col("vocab").as("vocab_union"), col("jsd_nats"))
    },
    Some(
      "WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w " +
        "FROM documents WHERE lang IN ('en', 'fr')), " +
        "c AS (SELECT w, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca, " +
        "sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS cb FROM tok WHERE w <> '' GROUP BY 1), " +
        "t AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS vocab FROM c), " +
        "terms AS (SELECT na, nb, vocab, " +
        "CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE)/na) * ln((CAST(ca AS DOUBLE)/na) / " +
        "((CAST(ca AS DOUBLE)/na + CAST(cb AS DOUBLE)/nb)/2)) ELSE 0 END + " +
        "CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE)/nb) * ln((CAST(cb AS DOUBLE)/nb) / " +
        "((CAST(ca AS DOUBLE)/na + CAST(cb AS DOUBLE)/nb)/2)) ELSE 0 END AS term " +
        "FROM c, t) " +
        "SELECT CAST(na AS BIGINT) AS n_tokens_a, CAST(nb AS BIGINT) AS n_tokens_b, vocab AS vocab_union, " +
        "round(sum(term) / 2, 4) AS jsd_nats FROM terms GROUP BY na, nb, vocab"
    ),
  )

  // ---------------------------------------------------------------------
  // q170 — Zipf-law fit: OLS slope of ln(freq) on ln(rank) over the
  // top-1000 vocabulary — the "is this corpus natural-language-shaped"
  // diagnostic (natural text ≈ −1; synthetic/repetitive corpora
  // flatten). Companion to q78's coverage and q103's diversity.
  //
  // Determinism: ranks come from the §7.0 total order (cnt DESC, w ASC)
  // over an explicitly LIMITed frame; the five regression moments
  // accumulate per-rank doubles over ≤1000 rows and the slope rounds
  // to 4.
  //
  // Scale: the only full-corpus work is the token count (map-side
  // combined); ranking applies to a TakeOrdered'd constant-size head,
  // so the unpartitioned window rides ≤1000 rows by construction (the
  // q78 bounded-frame exception, bounded by LIMIT rather than Heaps).
  val q170: QuerySpec = QuerySpec(
    "q170_zipf_slope",
    (s, d) => {
      val top = documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .groupBy("w")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("w"))
        .limit(1000)
      val xy = top
        .withColumn("rnk", row_number().over(Window.orderBy(desc("cnt"), asc("w"))))
        .select(log(col("rnk").cast("double")).as("x"), log(col("cnt").cast("double")).as("y"))
      xy.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("s1"), sum(col("y")).as("s2"),
        sum(col("x") * col("x")).as("s11"), sum(col("x") * col("y")).as("s12"))
        .select(
          col("n").cast("long").as("n_ranks"),
          round((col("n") * col("s12") - col("s1") * col("s2")) /
            (col("n") * col("s11") - col("s1") * col("s1")), 4).as("zipf_slope"),
          round((col("s2") - col("s1") *
            ((col("n") * col("s12") - col("s1") * col("s2")) /
              (col("n") * col("s11") - col("s1") * col("s1")))) / col("n"), 4)
            .as("intercept"))
    },
    Some(
      "WITH v AS (SELECT w, count(*) AS cnt FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) " +
        "WHERE w <> '' GROUP BY 1 ORDER BY cnt DESC, w LIMIT 1000), " +
        "xy AS (SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, w) AS DOUBLE)) AS x, " +
        "ln(CAST(cnt AS DOUBLE)) AS y FROM v), " +
        "m AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS s1, sum(y) AS s2, " +
        "sum(x*x) AS s11, sum(x*y) AS s12 FROM xy) " +
        "SELECT CAST(n AS BIGINT) AS n_ranks, " +
        "round((n*s12 - s1*s2) / (n*s11 - s1*s1), 4) AS zipf_slope, " +
        "round((s2 - s1 * ((n*s12 - s1*s2) / (n*s11 - s1*s1))) / n, 4) AS intercept FROM m"
    ),
  )

  // ---------------------------------------------------------------------
  // q171 — small-file compaction plan: model each (day, event_type)
  // partition slice as a "file" (bytes = 96 header + 48/row, a fixed
  // documented estimate), then pack each day's files into target-sized
  // compaction bins by prefix-sum division — the plan a lakehouse
  // maintenance job executes. Greedy in-order packing (bin = cumulative
  // bytes BEFORE the file, div target) is the deterministic, one-pass
  // assignment; it never splits a file and overshoots a bin by at most
  // one file — the standard compaction-planner trade.
  //
  // Scale: file stats are one fact aggregate; the pack window
  // partitions BY DAY (thousands of independent groups at 100 TB, each
  // |event_type|-bounded) — no global sort anywhere.
  val q171: QuerySpec = QuerySpec(
    "q171_compaction_plan",
    (s, d) => {
      val target = 65536L // 64 KiB compaction-bin target at bench scale
      val files = events(s, d)
        .groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg((lit(96L) + lit(48L) * count(lit(1))).as("bytes"))
      val w = Window.partitionBy("day").orderBy("event_type")
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("bin", (coalesce(sum(col("bytes")).over(w), lit(0L)) / target)
          .cast("long"))
        .groupBy("day", "bin")
        .agg(
          count(lit(1)).as("n_files"),
          sum(col("bytes")).as("bin_bytes"))
        .orderBy("day", "bin")
    },
    Some(
      "WITH f AS (SELECT CAST(ts AS DATE) AS day, event_type, " +
        "96 + 48 * count(*) AS bytes FROM events GROUP BY 1, 2), " +
        "b AS (SELECT day, bytes, " +
        "CAST(COALESCE(sum(bytes) OVER (PARTITION BY day ORDER BY event_type " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 65536 AS BIGINT) AS bin FROM f) " +
        "SELECT day, bin, count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bin_bytes " +
        "FROM b GROUP BY 1, 2 ORDER BY day, bin"
    ),
  )

  // ---------------------------------------------------------------------
  // q172 — Z-order (Morton) layout profile: interleave the low 8 bits
  // of two join-key buckets (partkey, suppkey) into a space-filling
  // curve value, assign rows to 256 equal curve ranges ("files"), and
  // profile each file's key locality. The point of Z-ordering a table
  // is that a predicate on EITHER key touches few files; the profile's
  // distinct-bucket counts per file are exactly that locality measure
  // (≈16 of 256 x-buckets per file vs 256 under a single-key sort).
  //
  // The interleave is 16 codegen'd integer ops (shift/and/or) — a pure
  // scan-side expression, no custom UDF (SURVEY §4 rule), identical
  // arithmetic in the oracle.
  //
  // Scale: one map-side expression + one groupBy on a 256-value key.
  // This is the layout pass a real table rewrite would run as
  // `df.repartitionByRange(morton).sortWithinPartitions(morton)`.
  private def mortonCol(x: Column, y: Column): Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  private def mortonSql(x: String, y: String): String =
    (0 until 8).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", ") | (", ")")

  val q172: QuerySpec = QuerySpec(
    "q172_zorder_layout",
    (s, d) =>
      lineitem(s, d)
        .select(
          pmod(col("l_partkey"), lit(256L)).as("xb"),
          pmod(col("l_suppkey"), lit(256L)).as("yb"))
        .withColumn("z", mortonCol(col("xb"), col("yb")))
        .withColumn("file_id", (col("z") / 256).cast("long"))
        .groupBy("file_id")
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("xb")).as("x_buckets"),
          countDistinct(col("yb")).as("y_buckets"),
          min(col("z")).as("z_min"),
          max(col("z")).as("z_max"))
        .orderBy("file_id"),
    Some(
      "WITH z AS (SELECT xb, yb, " + mortonSql("xb", "yb") + " AS z FROM " +
        "(SELECT l_partkey % 256 AS xb, l_suppkey % 256 AS yb FROM lineitem)) " +
        "SELECT z // 256 AS file_id, count(*) AS n_rows, " +
        "count(DISTINCT xb) AS x_buckets, count(DISTINCT yb) AS y_buckets, " +
        "min(z) AS z_min, max(z) AS z_max " +
        "FROM z GROUP BY 1 ORDER BY file_id"
    ),
  )

  // ---------------------------------------------------------------------
  // q175 — returned-item revenue report (the TPC-H Q10 shape): top 20
  // customers by revenue lost to returns in one quarter, with their
  // nation. Fact⋈fact on orderkey (date-pruned scan-side), dims
  // broadcast, TakeOrdered head — the canonical "who do we call"
  // operational query.
  //
  // Determinism: revenue is the exact-decimal house expression; the
  // top-20 order is total (revenue DESC, custkey ASC).
  val q175: QuerySpec = QuerySpec(
    "q175_returned_top_customers",
    (s, d) =>
      lineitem(s, d)
        .where(col("l_returnflag") === "R")
        .join(
          orders(s, d)
            .where(col("o_orderdate") >= "1995-10-01" && col("o_orderdate") < "1996-01-01")
            .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(revenueExpr.as("revenue"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name").as("nation"),
          col("c_acctbal"), col("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20),
    Some(
      "WITH r AS (SELECT o_custkey, " + revenueSql + " AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1995-10-01' " +
        "AND o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1) " +
        "SELECT c_custkey, c_name, n_name AS nation, c_acctbal, revenue " +
        "FROM r JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20"
    ),
  )

  // ---------------------------------------------------------------------
  // q176 — product-type profit rollup (the TPC-H Q9 shape): per
  // supplier-nation per order-year profit on one part family, with
  // cost emulated as a fixed retail-price fraction (the schema has no
  // partsupp; the emulation is documented, deterministic, and keeps
  // Q9's join topology intact: fact⋈part⋈supplier⋈nation⋈orders).
  //
  // Determinism: profit = Σ(extprice·(1−disc) − 0.60·retail·qty) in
  // exact decimal end-to-end, surfaced double once.
  //
  // Scale: part/supplier/nation broadcast; lineitem⋈orders is the one
  // fact exchange (orderkey); the part-name filter prunes scan-side
  // BEFORE the fact join via the broadcast hash semi-side.
  val q176: QuerySpec = QuerySpec(
    "q176_product_profit",
    (s, d) => {
      val profit =
        col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 4)) - col("l_discount").cast(DecimalType(18, 4))) -
          lit(0.60).cast(DecimalType(4, 2)) *
          col("p_retailprice").cast(DecimalType(18, 2)) *
          col("l_quantity").cast(DecimalType(18, 2))
      lineitem(s, d)
        .join(
          part(s, d).where(col("p_name").contains("red"))
            .select("p_partkey", "p_retailprice"),
          col("l_partkey") === col("p_partkey"))
        .join(supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(nation(s, d).select("n_nationkey", "n_name"),
          col("s_nationkey") === col("n_nationkey"))
        .join(orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(profit).cast("double").as("profit"))
        .orderBy(asc("nation"), desc("o_year"))
    },
    Some(
      "SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) - " +
        "CAST(0.60 AS DECIMAL(4,2)) * CAST(p_retailprice AS DECIMAL(18,2)) * " +
        "CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE p_name LIKE '%red%' " +
        "GROUP BY 1, 2 ORDER BY nation, o_year DESC"
    ),
  )

  // ---------------------------------------------------------------------
  // q182 — zone-map skipping forecast: for the SAME predicate
  // (partkey bucket = 7), how many files could a min/max zone map
  // skip under two physical layouts — the q172 Z-order curve ranges
  // vs an arrival-hash placement? This is the quantified version of
  // "layout determines scan cost": zone maps (parquet row-group
  // stats, Delta/Iceberg file stats) only prune when the layout
  // CLUSTERS the predicate column; the report computes, per layout,
  // files hit, rows scanned, and the floored-bp skip fraction.
  //
  // Everything is exact integer arithmetic over per-file min/max/count
  // aggregates — the same stats a lakehouse manifest stores. The
  // Z-order side must skip ~15/16 of files (each 256-wide curve range
  // spans one 16-value xb tile); the hash side can skip ~nothing.
  //
  // Scale: one scan builds both layouts' (layout, file) zone frames
  // (512 groups total); the verdict is a 2-row rollup.
  val q182: QuerySpec = QuerySpec(
    "q182_zonemap_skipping",
    (s, d) => {
      val rows = lineitem(s, d)
        .select(
          pmod(col("l_partkey"), lit(256L)).as("xb"),
          pmod(col("l_suppkey"), lit(256L)).as("yb"),
          col("l_orderkey"))
        .withColumn("z", mortonCol(col("xb"), col("yb")))
      val layouts = rows
        .select(lit("zorder").as("layout"),
          (col("z") / 256).cast("long").as("file_id"), col("xb"))
        .unionByName(rows.select(lit("linear_hash").as("layout"),
          pmod(col("l_orderkey"), lit(256L)).as("file_id"), col("xb")))
      val zones = layouts.groupBy("layout", "file_id")
        .agg(
          min(col("xb")).as("zmin"),
          max(col("xb")).as("zmax"),
          count(lit(1)).as("rows_in_file"),
          sum(when(col("xb") === 7, 1L).otherwise(0L)).as("matched"))
      zones.groupBy("layout")
        .agg(
          count(lit(1)).as("n_files"),
          sum(when(col("zmin") <= 7 && col("zmax") >= 7, 1L).otherwise(0L))
            .as("files_hit"),
          sum(when(col("zmin") <= 7 && col("zmax") >= 7, col("rows_in_file"))
            .otherwise(0L)).as("rows_scanned"),
          sum(col("matched")).as("rows_matched"),
          sum(col("rows_in_file")).as("rows_total"))
        .withColumn("skip_bp",
          expr("(10000 * (rows_total - rows_scanned)) div rows_total"))
        .orderBy("layout")
    },
    Some(
      "WITH r AS (SELECT l_partkey % 256 AS xb, l_suppkey % 256 AS yb, l_orderkey " +
        "FROM lineitem), " +
        "z AS (SELECT xb, yb, l_orderkey, " + mortonSql("xb", "yb") + " AS z FROM r), " +
        "lay AS (SELECT 'zorder' AS layout, z // 256 AS file_id, xb FROM z " +
        "UNION ALL SELECT 'linear_hash', l_orderkey % 256, xb FROM z), " +
        "zones AS (SELECT layout, file_id, min(xb) AS zmin, max(xb) AS zmax, " +
        "count(*) AS rows_in_file, " +
        "sum(CASE WHEN xb = 7 THEN 1 ELSE 0 END) AS matched " +
        "FROM lay GROUP BY 1, 2) " +
        "SELECT layout, count(*) AS n_files, " +
        "CAST(sum(CASE WHEN zmin <= 7 AND zmax >= 7 THEN 1 ELSE 0 END) AS BIGINT) AS files_hit, " +
        "CAST(sum(CASE WHEN zmin <= 7 AND zmax >= 7 THEN rows_in_file ELSE 0 END) AS BIGINT) AS rows_scanned, " +
        "CAST(sum(matched) AS BIGINT) AS rows_matched, CAST(sum(rows_in_file) AS BIGINT) AS rows_total, " +
        "CAST((10000 * (sum(rows_in_file) - " +
        "sum(CASE WHEN zmin <= 7 AND zmax >= 7 THEN rows_in_file ELSE 0 END))) " +
        "// sum(rows_in_file) AS BIGINT) AS skip_bp " +
        "FROM zones GROUP BY 1 ORDER BY layout"
    ),
  )

  // ---------------------------------------------------------------------
  // q183 — decile lift table: rank customers by a score (account
  // balance as the stand-in model score), split into 10 equal-count
  // deciles, and report each decile's conversion rate (placed an
  // URGENT order) as floored-bp lift over the base rate — the
  // model-evaluation staple for targeting/propensity scores.
  //
  // Determinism: deciles are ANSI ntile on the TOTAL order
  // (score DESC, custkey) — computed WITHOUT a single-task sort via
  // [[Ranks.withGlobalRank]] + [[Ranks.ntileFromRank]] (the q140
  // machinery; RanksSpec pins exact ntile equivalence); lift is pure
  // integer arithmetic over exact counts.
  //
  // Scale: the conversion flag is a semi-style left join keyed on
  // custkey; ranking range-partitions the customer dimension (which
  // grows with the business — the q109 lesson); output is 10 rows.
  val q183: QuerySpec = QuerySpec(
    "q183_decile_lift",
    (s, d) => {
      val conv = orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct()
      val scored = customer(s, d).select("c_custkey", "c_acctbal")
        .join(conv, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_acctbal"),
          col("o_custkey").isNotNull.as("conv"))
      val ranked = Ranks.withGlobalRank(
        scored, Seq(col("c_acctbal").desc, col("c_custkey").asc), "rk")
      val tot = scored.agg(
        count(lit(1)).as("n_all"),
        sum(when(col("conv"), 1L).otherwise(0L)).as("conv_all"))
      ranked.crossJoin(tot) // 1-row totals anchor
        .select(Ranks.ntileFromRank(col("rk"), col("n_all"), 10).as("decile"),
          col("conv"), col("n_all"), col("conv_all"))
        .groupBy("decile", "n_all", "conv_all")
        .agg(
          count(lit(1)).as("n_customers"),
          sum(when(col("conv"), 1L).otherwise(0L)).as("n_converted"))
        .select(col("decile"), col("n_customers"), col("n_converted"),
          // nullif guard: zero conversions overall → NULL lift, matching the
          // oracle's NULLIF (DuckDB // would otherwise raise on /0).
          expr("(10000 * n_converted * n_all) div nullif(n_customers * conv_all, 0)")
            .as("lift_bp"))
        .orderBy("decile")
    },
    Some(
      "WITH conv AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'), " +
        "sc AS (SELECT c_custkey, c_acctbal, o_custkey IS NOT NULL AS conv " +
        "FROM customer LEFT JOIN conv ON c_custkey = o_custkey), " +
        "t AS (SELECT count(*) AS n_all, sum(CASE WHEN conv THEN 1 ELSE 0 END) AS conv_all FROM sc), " +
        "dec AS (SELECT ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile, conv FROM sc) " +
        "SELECT decile, count(*) AS n_customers, " +
        "CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS n_converted, " +
        "CAST((10000 * sum(CASE WHEN conv THEN 1 ELSE 0 END) * n_all) " +
        "// NULLIF(count(*) * conv_all, 0) AS BIGINT) AS lift_bp " +
        "FROM dec, t GROUP BY decile, n_all, conv_all ORDER BY decile"
    ),
  )

  // ---------------------------------------------------------------------
  // q184 — attribution model comparison: the SAME purchase episodes
  // credited under last-touch, first-touch, and linear models, side by
  // side per channel — the report a marketing team reads before
  // picking an attribution policy (q94 ships last-touch alone; the
  // models disagree exactly when journeys are multi-touch).
  //
  // Episode = the touches between consecutive purchases of a user
  // (episode id = running count of PRECEDING purchases); a purchase
  // credits its own episode. Linear credit is ⌊1000/k⌋ milli-credits
  // per touch (k = episode touches) — floored integers, a DEFINED
  // statistic (the q79 rule); touchless purchases credit 'none' with
  // the full 1000.
  //
  // Scale: one user shuffle for the episode window; per-episode
  // windows are journey-bounded; the three models assemble by
  // UNION ALL + one channel rollup — no full-outer join chain.
  val q184: QuerySpec = QuerySpec(
    "q184_attribution_models",
    (s, d) => {
      val wEp = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ev = events(s, d)
        .withColumn("ep",
          coalesce(sum(when(col("event_type") === "purchase", 1L)).over(wEp), lit(0L)))
      val tou = ev.where(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ep"), col("event_type"), col("ts"), col("event_id"))
      val closed = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ep"))
      val credited = tou.join(closed, Seq("user_id", "ep"), "left_semi")
      val wLast = Window.partitionBy("user_id", "ep")
        .orderBy(col("ts").desc, col("event_id").desc)
      val wFirst = Window.partitionBy("user_id", "ep")
        .orderBy(col("ts").asc, col("event_id").asc)
      val k = credited.groupBy("user_id", "ep").agg(count(lit(1)).as("k"))
      val lastC = credited.withColumn("rn", row_number().over(wLast))
        .where(col("rn") === 1)
        .select(col("event_type").as("channel"), lit(0L).as("first_touch"),
          lit(1L).as("last_touch"), lit(0L).as("linear_milli"))
      val firstC = credited.withColumn("rn", row_number().over(wFirst))
        .where(col("rn") === 1)
        .select(col("event_type").as("channel"), lit(1L).as("first_touch"),
          lit(0L).as("last_touch"), lit(0L).as("linear_milli"))
      val linC = credited.join(k, Seq("user_id", "ep"))
        .select(col("event_type").as("channel"), lit(0L).as("first_touch"),
          lit(0L).as("last_touch"), expr("1000 div k").as("linear_milli"))
      val noneC = closed.join(tou, Seq("user_id", "ep"), "left_anti")
        .select(lit("none").as("channel"), lit(1L).as("first_touch"),
          lit(1L).as("last_touch"), lit(1000L).as("linear_milli"))
      lastC.unionByName(firstC).unionByName(linC).unionByName(noneC)
        .groupBy("channel")
        .agg(
          sum(col("first_touch")).as("first_touch"),
          sum(col("last_touch")).as("last_touch"),
          sum(col("linear_milli")).as("linear_milli"))
        .orderBy("channel")
    },
    Some(
      "WITH ev AS (SELECT user_id, event_type, ts, event_id, " +
        "COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 END) " +
        "OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ep FROM events), " +
        "tou AS (SELECT user_id, ep, event_type, ts, event_id FROM ev " +
        "WHERE event_type <> 'purchase'), " +
        "closed AS (SELECT user_id, ep FROM ev WHERE event_type = 'purchase'), " +
        "credited AS (SELECT t.* FROM tou t WHERE EXISTS " +
        "(SELECT 1 FROM closed c WHERE c.user_id = t.user_id AND c.ep = t.ep)), " +
        "k AS (SELECT user_id, ep, count(*) AS k FROM credited GROUP BY 1, 2), " +
        "lastc AS (SELECT event_type AS channel, 0 AS ft, 1 AS lt, 0 AS lm FROM " +
        "(SELECT event_type, row_number() OVER (PARTITION BY user_id, ep " +
        "ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM credited) WHERE rn = 1), " +
        "firstc AS (SELECT event_type, 1, 0, 0 FROM " +
        "(SELECT event_type, row_number() OVER (PARTITION BY user_id, ep " +
        "ORDER BY epoch_us(ts), event_id) AS rn FROM credited) WHERE rn = 1), " +
        "linc AS (SELECT event_type, 0, 0, 1000 // k FROM credited JOIN k USING (user_id, ep)), " +
        "nonec AS (SELECT 'none', 1, 1, 1000 FROM closed c WHERE NOT EXISTS " +
        "(SELECT 1 FROM tou t WHERE t.user_id = c.user_id AND t.ep = c.ep)), " +
        "u AS (SELECT * FROM lastc UNION ALL SELECT * FROM firstc " +
        "UNION ALL SELECT * FROM linc UNION ALL SELECT * FROM nonec) " +
        "SELECT channel, CAST(sum(ft) AS BIGINT) AS first_touch, " +
        "CAST(sum(lt) AS BIGINT) AS last_touch, " +
        "CAST(sum(lm) AS BIGINT) AS linear_milli FROM u GROUP BY 1 ORDER BY channel"
    ),
  )

  // ---------------------------------------------------------------------
  // q185 — consistent-hashing rebalance forecast: assign every
  // customer key to a shard on a 32-vnode-per-shard hash ring, then
  // report the movement matrix when the ring grows 8 → 9 shards. The
  // defining property of consistent hashing — ONLY keys claimed by
  // the new shard's vnodes move (≈1/9 of them), everything else stays
  // — falls out of the math and is what the report quantifies; it's
  // the capacity-planning question every sharded store answers before
  // a scale-out.
  //
  // Positions are 32-bit md5 prefixes (the q126 conv idiom — identical
  // in both engines); a vnode's position depends only on (shard,
  // vnode), never on ring size, which is WHY growth is incremental.
  // Ownership: nearest vnode clockwise (min position ≥ key position,
  // wrapping to the ring's global min); encoded as one integer
  // min-aggregate over pos·512+shard (no struct, no window).
  //
  // Scale: the ring is CONFIG-bounded (288 vnodes) and broadcasts; the
  // assignment is a map-side ×288 fold per key (linear, constant
  // factor) — at production volume swap the fold for a broadcast
  // sorted-array binary-search expression; the report is an
  // |shards|²-bounded rollup. Keys shuffle once for the final matrix.
  private def pos32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  private def pos32Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"

  val q185: QuerySpec = QuerySpec(
    "q185_consistent_hashing",
    (s, d) => {
      val vnodes = s.range(9L * 32L)
        .select((col("id") / 32).cast("long").as("shard"),
          pmod(col("id"), lit(32L)).as("v"))
        .select(col("shard"),
          pos32(concat(lit("ring:"), col("shard"), lit(":"), col("v")))
            .as("vpos"))
        .withColumn("comb", col("vpos") * 512 + col("shard"))
      def assign(ring: org.apache.spark.sql.DataFrame, out: String) = {
        val fallback = ring.agg(min(col("comb")).as("fb"))
        customer(s, d)
          .select(col("c_custkey"),
            pos32(concat(lit("key:"), col("c_custkey"))).as("kpos"))
          .join(broadcast(ring), col("vpos") >= col("kpos"), "left")
          .groupBy("c_custkey", "kpos")
          .agg(min(col("comb")).as("own"))
          .crossJoin(broadcast(fallback)) // 1-row wraparound anchor
          .select(col("c_custkey"),
            pmod(coalesce(col("own"), col("fb")), lit(512L)).as(out))
      }
      assign(vnodes.where(col("shard") < 8), "old_shard")
        .join(assign(vnodes, "new_shard"), Seq("c_custkey"))
        .groupBy("old_shard", "new_shard")
        .agg(count(lit(1)).as("n_keys"))
        .orderBy("old_shard", "new_shard")
    },
    Some(
      "WITH ids AS (SELECT unnest(generate_series(0, 287)) AS id), " +
        "vn AS (SELECT id // 32 AS shard, " +
        pos32Sql("'ring:' || CAST(id // 32 AS VARCHAR) || ':' || CAST(id % 32 AS VARCHAR)") +
        " AS vpos FROM ids), " +
        "vc AS (SELECT shard, vpos, vpos * 512 + shard AS comb FROM vn), " +
        "k AS (SELECT c_custkey, " + pos32Sql("'key:' || CAST(c_custkey AS VARCHAR)") +
        " AS kpos FROM customer), " +
        "a8 AS (SELECT c_custkey, COALESCE(min(CASE WHEN vpos >= kpos THEN comb END), " +
        "(SELECT min(comb) FROM vc WHERE shard < 8)) % 512 AS old_shard " +
        "FROM k CROSS JOIN (SELECT * FROM vc WHERE shard < 8) GROUP BY c_custkey, kpos), " +
        "a9 AS (SELECT c_custkey, COALESCE(min(CASE WHEN vpos >= kpos THEN comb END), " +
        "(SELECT min(comb) FROM vc)) % 512 AS new_shard " +
        "FROM k CROSS JOIN vc GROUP BY c_custkey, kpos) " +
        "SELECT old_shard, new_shard, count(*) AS n_keys " +
        "FROM a8 JOIN a9 USING (c_custkey) GROUP BY 1, 2 ORDER BY old_shard, new_shard"
    ),
  )

  // ---------------------------------------------------------------------
  // q198 — Population Stability Index between two order cohorts
  // (1994 vs 1995+, fixed price bins): the scorecard-monitoring drift
  // statistic, complementing q169's JSD — PSI is the one risk/quality
  // teams threshold on (<0.1 stable, >0.25 shifted), and unlike JSD
  // it is symmetric-in-sign per bin, so the PER-BIN terms localize
  // WHERE the distribution moved. Bin edges are fixed literals (a
  // production PSI pins edges from the baseline period, never
  // re-derives them), counts are exact integers, and each bin
  // contributes one (p−q)·ln(p/q) double term — the q169/q163
  // rounding budget: round AFTER the fold, terms to 6, total to 4.
  // Zero-count bins contribute 0 by the guarded convention (both
  // sides must be populated for the ratio to mean anything).
  //
  // Scale: one map-side-combined aggregate into |bins| rows; the
  // fold over bins is constant-size. Nothing downstream of the scan
  // grows with the data.
  val q198: QuerySpec = QuerySpec(
    "q198_psi_drift",
    (s, d) => {
      val edges = Seq(50000.0, 100000.0, 150000.0, 200000.0, 300000.0)
      // fold from the LARGEST edge so the smallest lands outermost —
      // each `when` must be reached only when all smaller edges failed
      val binCol = edges.zipWithIndex.reverse.foldLeft(lit(edges.length)) {
        case (acc, (e, i)) => when(col("o_totalprice") < e, lit(i)).otherwise(acc)
      }
      val binned = orders(s, d)
        .select(
          binCol.as("bin"),
          (year(col("o_orderdate")) === 1994).as("is_a"),
          (year(col("o_orderdate")) >= 1995).as("is_b"))
        .where(col("is_a") || col("is_b"))
        .groupBy("bin")
        .agg(
          sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("is_b"), 1L).otherwise(0L)).as("n_b"))
      val tot = binned.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
      val p = col("n_a").cast("double") / col("ta")
      val q = col("n_b").cast("double") / col("tb")
      val terms = binned.crossJoin(tot) // 1-row totals anchor
        .select(
          col("bin"), col("n_a"), col("n_b"),
          when(col("n_a") > 0 && col("n_b") > 0, (p - q) * log(p / q))
            .otherwise(lit(0.0)).as("t"))
      val psi = terms.agg(round(sum(col("t")), 4).as("psi")) // 1-row total
      terms
        .crossJoin(psi)
        .select(
          col("bin"), col("n_a"), col("n_b"),
          round(col("t"), 6).as("psi_term"), col("psi"))
        .orderBy("bin")
    },
    Some(
      "WITH binned AS (SELECT CASE WHEN o_totalprice < 50000 THEN 0 " +
        "WHEN o_totalprice < 100000 THEN 1 WHEN o_totalprice < 150000 THEN 2 " +
        "WHEN o_totalprice < 200000 THEN 3 WHEN o_totalprice < 300000 THEN 4 ELSE 5 END AS bin, " +
        "year(o_orderdate) = 1994 AS is_a, year(o_orderdate) >= 1995 AS is_b " +
        "FROM orders WHERE year(o_orderdate) = 1994 OR year(o_orderdate) >= 1995), " +
        "c AS (SELECT bin, CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b FROM binned GROUP BY 1), " +
        "t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM c), " +
        "terms AS (SELECT bin, n_a, n_b, CASE WHEN n_a > 0 AND n_b > 0 " +
        "THEN (n_a * 1.0 / ta - n_b * 1.0 / tb) * ln((n_a * 1.0 / ta) / (n_b * 1.0 / tb)) " +
        "ELSE 0.0 END AS t FROM c CROSS JOIN t), " +
        "p AS (SELECT round(sum(t), 4) AS psi FROM terms) " +
        "SELECT bin, n_a, n_b, round(t, 6) AS psi_term, psi " +
        "FROM terms CROSS JOIN p ORDER BY bin"
    ),
  )

  // ---------------------------------------------------------------------
  // q232 — feature information value (WoE/IV, r7): the
  // feature-screening table a supervised curation/scoring pipeline
  // reads before training — per (feature, bin): Laplace-smoothed
  // weight of evidence in µnats, plus the feature's total IV (the
  // scalar that ranks features: < 0.02 useless, > 0.3 strong). Label =
  // order status 'F'; features = the q198 price bands (shared edges —
  // drift and predictiveness read off the SAME binning) and order
  // priority.
  //
  // Determinism: the q131 ln discipline — WoE = ⌊ln((g'·B')/(b'·G'))·10⁶⌋
  // where g' = g+1, b' = b+1 (Laplace; zero-event bins stay finite) and
  // G', B' are the smoothed totals: one ln of a ratio of EXACT
  // integers, floored to µnats before any further arithmetic. IV sums
  // fractions with the common denominator G'·B' exactly:
  // IV_µ = Σ (g'·B' − b'·G')·woe_µ div (G'·B'), accumulated in
  // DECIMAL(38,0) (g·B products reach N² — the q147 rule); the
  // numerator and woe_µ always share sign, so every term — and the
  // sum — is ≥ 0 and `div`/`//` agree.
  //
  // Scale: ONE conditional scan (features unpivot via stack, the q226
  // discipline), one groupBy over a domain-bounded (feature, bin) key,
  // per-feature totals broadcast back — the fact is touched once.
  val q232: QuerySpec = QuerySpec(
    "q232_feature_iv",
    (s, d) => {
      val big = DecimalType(38, 0)
      val band = expr(
        "CASE WHEN o_totalprice < 50000 THEN 0 WHEN o_totalprice < 100000 THEN 1 " +
          "WHEN o_totalprice < 150000 THEN 2 WHEN o_totalprice < 200000 THEN 3 " +
          "WHEN o_totalprice < 300000 THEN 4 ELSE 5 END")
      val binned = orders(s, d)
        .select((col("o_orderstatus") === "F").cast("long").as("y"),
          band.cast("string").as("price_band"), col("o_orderpriority"))
        .select(expr("stack(2, 'price_band', price_band, 'priority', o_orderpriority) AS (feature, bin)"),
          col("y"))
      val cells = binned.groupBy("feature", "bin")
        .agg((sum(col("y")) + 1).cast(big).as("g"),
          (sum(lit(1) - col("y")) + 1).cast(big).as("b"))
      val tots = cells.groupBy("feature")
        .agg(sum("g").cast(big).as("gt"), sum("b").cast(big).as("bt"))
      val woe = cells.join(broadcast(tots), Seq("feature"))
        .select(col("feature"), col("bin"),
          (col("g") - 1).cast("long").as("n_good"), (col("b") - 1).cast("long").as("n_bad"),
          col("g"), col("b"), col("gt"), col("bt"),
          expr("CAST(floor(ln(CAST(g * bt AS DOUBLE) / CAST(b * gt AS DOUBLE)) * 1e6) AS BIGINT)")
            .as("woe_micro"))
      val iv = woe.groupBy("feature")
        .agg(expr("CAST(sum((g * bt - b * gt) * woe_micro) div (max(gt) * max(bt)) AS BIGINT)")
          .as("iv_micro"))
      woe.join(broadcast(iv), Seq("feature"))
        .select(col("feature"), col("bin"), col("n_good"), col("n_bad"),
          col("woe_micro"), col("iv_micro"))
        .orderBy("feature", "bin")
    },
    Some(
      "WITH binned AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y, " +
        "CAST(CASE WHEN o_totalprice < 50000 THEN 0 WHEN o_totalprice < 100000 THEN 1 " +
        "WHEN o_totalprice < 150000 THEN 2 WHEN o_totalprice < 200000 THEN 3 " +
        "WHEN o_totalprice < 300000 THEN 4 ELSE 5 END AS VARCHAR) AS price_band, " +
        "o_orderpriority FROM orders), " +
        "u AS (SELECT 'price_band' AS feature, price_band AS bin, y FROM binned " +
        "UNION ALL SELECT 'priority', o_orderpriority, y FROM binned), " +
        "cells AS (SELECT feature, bin, CAST(sum(y) + 1 AS HUGEINT) AS g, " +
        "CAST(sum(1 - y) + 1 AS HUGEINT) AS b FROM u GROUP BY 1, 2), " +
        "tots AS (SELECT feature, sum(g) AS gt, sum(b) AS bt FROM cells GROUP BY 1), " +
        "woe AS (SELECT c.feature AS feature, bin, CAST(g - 1 AS BIGINT) AS n_good, " +
        "CAST(b - 1 AS BIGINT) AS n_bad, g, b, gt, bt, " +
        "CAST(floor(ln(CAST(g * bt AS DOUBLE) / CAST(b * gt AS DOUBLE)) * 1e6) AS BIGINT) AS woe_micro " +
        "FROM cells c JOIN tots t ON c.feature = t.feature), " +
        "iv AS (SELECT feature, CAST(sum((g * bt - b * gt) * woe_micro) // (max(gt) * max(bt)) AS BIGINT) AS iv_micro " +
        "FROM woe GROUP BY 1) " +
        "SELECT w.feature AS feature, bin, n_good, n_bad, woe_micro, iv_micro " +
        "FROM woe w JOIN iv i ON w.feature = i.feature ORDER BY feature, bin"
    ),
  )

  // ---------------------------------------------------------------------
  // q233 — smoothed target encoding with leave-one-out (r7): the
  // feature-engineering transform that replaces a high-cardinality
  // category with its smoothed target rate — and the LEAVE-ONE-OUT
  // variant each training row must receive, because encoding a row
  // with a statistic that includes its own label is target leakage
  // (the q75/q149 decontamination concern at the feature level).
  // Category = customer nation; label = order status 'F'; prior
  // strength k = 20 (enc → global rate as a nation's support → 0).
  //
  // Determinism: enc_bp = 10⁴·(sy_c·N + k·SY) div ((n_c + k)·N) — one
  // cross-multiplied integer division per row, DECIMAL(38,0) because
  // sy·N reaches N² (q147 rule); all quantities non-negative so
  // div/floor agree. LOO subtracts the row's own label from the
  // numerator and 1 from the support BEFORE smoothing.
  //
  // Scale: one fact scan + a broadcastable |category| aggregate + a
  // 1-row global anchor; the encode itself is a projection — the
  // exact shape the transform ships with at 100 TB (the category
  // table IS the model artifact).
  val q233: QuerySpec = QuerySpec(
    "q233_target_encoding",
    (s, d) => {
      val big = DecimalType(38, 0)
      val rows = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey").as("nation"),
          (col("o_orderstatus") === "F").cast("long").as("y"))
      val cat = rows.groupBy("nation")
        .agg(count(lit(1)).cast(big).as("nc"), sum("y").cast(big).as("syc"))
      val glob = rows.agg(count(lit(1)).cast(big).as("n"), sum("y").cast(big).as("sy"))
      rows
        .join(broadcast(cat), Seq("nation"))
        .crossJoin(broadcast(glob)) // 1-row global anchor
        .select(col("o_orderkey"), col("nation"), col("y"),
          expr("CAST(10000 * (syc * n + 20 * sy) div ((nc + 20) * n) AS BIGINT)").as("enc_bp"),
          expr("CAST(10000 * ((syc - y) * n + 20 * sy) div ((nc - 1 + 20) * n) AS BIGINT)")
            .as("enc_loo_bp"))
        .orderBy("o_orderkey")
    },
    Some(
      "WITH rows_ AS (SELECT o_orderkey, c_nationkey AS nation, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y " +
        "FROM orders JOIN customer ON o_custkey = c_custkey), " +
        "cat AS (SELECT nation, CAST(count(*) AS HUGEINT) AS nc, CAST(sum(y) AS HUGEINT) AS syc " +
        "FROM rows_ GROUP BY 1), " +
        "gmix AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(y) AS HUGEINT) AS sy FROM rows_) " +
        "SELECT o_orderkey, nation, CAST(y AS BIGINT) AS y, " +
        "CAST(10000 * (syc * n + 20 * sy) // ((nc + 20) * n) AS BIGINT) AS enc_bp, " +
        "CAST(10000 * ((syc - y) * n + 20 * sy) // ((nc - 1 + 20) * n) AS BIGINT) AS enc_loo_bp " +
        "FROM rows_ JOIN cat USING (nation) CROSS JOIN gmix ORDER BY o_orderkey"
    ),
  )

  // ---------------------------------------------------------------------
  // q234 — Poisson-bootstrap slice confidence intervals (r7): per order
  // priority, a bootstrap CI for the mean order value — the uncertainty
  // band every slice-level eval metric needs before a regression is
  // called real. Classic row-resampling cannot scale (B full passes,
  // each needing a global index); the POISSON bootstrap replaces each
  // replicate's multinomial row counts with independent Poisson(1)
  // weights computed map-side from the row key alone (Chamandy et al.,
  // "Estimating Uncertainty for Massive Data Streams", Google 2012) —
  // one scan, no global coordination, exactly the estimator a
  // 1000-executor metric pipeline ships.
  //
  // Determinism: replicate b's weight for a row is the Poisson(1)
  // inverse-CDF step function applied to a 32-bit md5 integer — CDF
  // thresholds are FIXED integer literals at the 2^32 scale
  // (⌊cum·2^32⌋ for k = 0..5; X ≥ 6 caps at 6, P ≈ 5.9e-4, a defined
  // truncation both engines share). One md5 yields FOUR independent
  // 32-bit draws (hex chunks at 1/9/17/25 — the q185 pos32 idiom
  // widened to the full digest), so replicate b reads chunk b mod 4 of
  // md5("boot:" ⧺ key ⧺ ":" ⧺ b div 4): B/4 hashes per row, measured
  // 2.6× faster than the one-hash-per-replicate form at sf0.1.
  // Replicate means are exact: (1000·Σw·cents) div Σw in
  // DECIMAL(38,0) — non-negative, so div/floor agree. CI =
  // value-at-rank 2 / 31 of the 32 replicate means (central 93.75%
  // band, fixed ranks) via row_number ordered (rep_milli, b) — total,
  // tie-stable.
  //
  // Scale: the ×32 replicate fanout is ONE posexplode over a
  // 32-element array of substring/conv reads against 8 digests
  // projected BELOW the Generate (generators get no codegen CSE — see
  // the inline note) and map-side-combines to |slices|·32 rows before
  // the only shuffle; the rank step runs on 32 rows per slice. B is a
  // constant the pipeline chooses — cost is B/4 md5s per row, data
  // passes stay at ONE.
  val q234: QuerySpec = QuerySpec(
    "q234_bootstrap_ci",
    (s, d) => {
      val big = DecimalType(38, 0)
      val rows = orders(s, d).select(
        col("o_orderpriority").as("priority"), col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(big).as("cents"))
      val point = rows.groupBy("priority")
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST((1000 * sum(cents)) div count(*) AS BIGINT)").as("point_milli"))
      // The 8 digests are projected BELOW the Generate: expressions
      // inside a generator get no codegen subexpression elimination, so
      // an md5-per-replicate array would hash 32× per row (measured
      // 8.2 s at sf0.1); hoisted, each row hashes exactly 8× and the
      // explode carries only substring+conv (measured 3.0 s).
      //
      // Fan the rows out first: orders at bench scale is ONE parquet
      // split, so the md5×8 + ×32 explode + partial aggregate all ran
      // inside the single scan task (stage-traced r10: 3.6 of the
      // query's 3.8 s on 1 task). Input bytes are a uselessly small
      // proxy for per-row generate work — widen the thin (priority,
      // key, cents) projection conditionally ([[Widen]]: a
      // production-scale scan keeps its own splits) so the
      // hash/explode mass runs on every core; the map-side combine
      // still reduces to |slices|·32 rows before the only aggregate
      // exchange.
      val withDigests = Widen.widened(rows)
        .select(
        col("priority") +: col("cents") +: (0 to 7).map { g =>
          md5(concat(lit("boot:"), col("o_orderkey"), lit(":"), lit(g)))
            .as(s"d$g")
        }: _*)
      val us = (0 to 31).map { b =>
        conv(substring(col(s"d${b / 4}"), 1 + 8 * (b % 4), 8), 16, 10)
          .cast("long")
      }
      val rep = withDigests
        .select(col("priority"), col("cents"),
          posexplode(array(us: _*)).as(Seq("b", "u")))
        .withColumn("w",
          when(col("u") < 1580030168L, 0L)
            .when(col("u") < 3160060337L, 1L)
            .when(col("u") < 3950075421L, 2L)
            .when(col("u") < 4213413783L, 3L)
            .when(col("u") < 4279248373L, 4L)
            .when(col("u") < 4292415291L, 5L)
            .otherwise(6L))
        .groupBy("priority", "b")
        .agg(sum(col("w") * col("cents")).cast(big).as("swc"),
          sum("w").as("nw"))
        .where(col("nw") > 0)
        .select(col("priority"), col("b"),
          expr("CAST((1000 * swc) div nw AS BIGINT)").as("rep_milli"))
      val ranked = rep.withColumn("rn",
        row_number().over(
          Window.partitionBy("priority").orderBy(col("rep_milli"), col("b"))))
      val ci = ranked.groupBy("priority")
        .agg(max(when(col("rn") === 2, col("rep_milli"))).as("lo_milli"),
          max(when(col("rn") === 31, col("rep_milli"))).as("hi_milli"))
      point.join(ci, Seq("priority")).orderBy("priority")
    },
    Some(
      "WITH rows_ AS (SELECT o_orderpriority AS priority, o_orderkey, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS cents FROM orders), " +
        "point AS (SELECT priority, count(*) AS n_orders, " +
        "CAST((1000 * sum(cents)) // count(*) AS BIGINT) AS point_milli FROM rows_ GROUP BY 1), " +
        "weighted AS (SELECT priority, cents, b, " +
        "CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1 " +
        "WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3 " +
        "WHEN u < 4279248373 THEN 4 WHEN u < 4292415291 THEN 5 ELSE 6 END AS w " +
        "FROM (SELECT priority, cents, g * 4 + j AS b, " +
        "CAST(('0x' || substr(md5('boot:' || CAST(o_orderkey AS VARCHAR) || ':' || CAST(g AS VARCHAR)), " +
        "1 + 8 * j, 8)) AS BIGINT) AS u FROM rows_ " +
        "CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS g) " +
        "CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j))), " +
        "rep AS (SELECT priority, b, CAST((1000 * sum(w * cents)) // sum(w) AS BIGINT) AS rep_milli " +
        "FROM weighted GROUP BY 1, 2 HAVING sum(w) > 0), " +
        "ranked AS (SELECT priority, rep_milli, " +
        "row_number() OVER (PARTITION BY priority ORDER BY rep_milli, b) AS rn FROM rep), " +
        "ci AS (SELECT priority, max(CASE WHEN rn = 2 THEN rep_milli END) AS lo_milli, " +
        "max(CASE WHEN rn = 31 THEN rep_milli END) AS hi_milli FROM ranked GROUP BY 1) " +
        "SELECT priority, n_orders, point_milli, lo_milli, hi_milli " +
        "FROM point JOIN ci USING (priority) ORDER BY priority"
    ),
  )

  // ---------------------------------------------------------------------
  // q235 — Kaplan–Meier survival of order fulfillment time with right
  // censoring (Kaplan & Meier 1958): per order priority, the log-
  // survival curve of "days until the order is FULLY delivered"
  // (max l_shipdate over the order's lines), read at the 30/60/90/
  // 120-day marks. Orders still undelivered at the administrative
  // cutoff (2001-06-01) are CENSORED at the cutoff — dropping them
  // (complete-case analysis) would bias fulfillment time downward,
  // exactly the mistake the censoring machinery exists to prevent.
  // Completes the duration axis the stat family lacks (q158/q159/q162
  // compare distributions; this estimates a time-to-event curve under
  // partial observation — the churn/retention/latency primitive).
  //
  // Determinism: the curve is carried in LOG space as exact integers —
  // per event time t, term = ⌊ln((n_t − d_t)/n_t)·10⁶⌋ (the q232 one-
  // ln-of-an-integer-ratio idiom), summed over event times ≤ mark, so
  // the published µnat values never see float accumulation. Event
  // times with n_t = d_t (the whole risk set dies) are excluded by the
  // SAME filter in both engines (S hits 0; log-space cannot carry it).
  // Risk sets are exact integers from a cumulative count. Mark reads
  // are max-by-t over event times ≤ mark (struct-max in Spark,
  // max_by + FILTER in DuckDB) — tie-free because t is the group key.
  //
  // Scale: one lineitem pass partial-aggs max(receipt) per order, the
  // orders join shuffles both sides on orderkey once; everything after
  // is (priority × duration)-sized — durations are CALENDAR-bounded
  // (fulfillment ≤ ~4 months + censor horizon), so the per-priority
  // cumulative windows run on ~10² rows per group (the q78 bounded-
  // frame exception), never on facts.
  val q235: QuerySpec = QuerySpec(
    "q235_kaplan_meier",
    (s, d) => {
      val cutoff = lit("2001-06-01").cast("date")
      val delivered = lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate").cast("date")).as("delivered"))
      val obs = orders(s, d)
        .where(col("o_orderdate").cast("date") < cutoff)
        .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
          col("o_orderdate").cast("date").as("start"))
        .join(delivered, col("o_orderkey") === col("l_orderkey"))
        .select(col("priority"),
          when(col("delivered") < cutoff, datediff(col("delivered"), col("start")))
            .otherwise(datediff(cutoff, col("start"))).cast("long").as("t"),
          when(col("delivered") < cutoff, 1L).otherwise(0L).as("ev"))
      val byT = obs.groupBy("priority", "t")
        .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
      val tot = obs.groupBy("priority")
        .agg(count(lit(1)).as("n_orders"), sum(col("ev")).as("n_events"))
      val wCum = Window.partitionBy("priority").orderBy("t")
      val risk = byT
        .withColumn("before",
          coalesce(sum(col("d") + col("c"))
            .over(wCum.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .join(tot, Seq("priority"))
        .withColumn("n_t", col("n_orders") - col("before"))
      val cum = risk
        .where(col("d") > 0 && col("n_t") > col("d"))
        .withColumn("term",
          expr("CAST(floor(ln(CAST(n_t - d AS DOUBLE) / CAST(n_t AS DOUBLE)) * 1e6) AS BIGINT)"))
        .withColumn("logS",
          sum(col("term")).over(wCum.rowsBetween(Window.unboundedPreceding, 0)))
      def mark(m: Int): Column = coalesce(
        max(when(col("t") <= m, struct(col("t"), col("logS")))).getField("logS"),
        lit(0L)).as(s"logs${m}_unat")
      tot.join(
        cum.groupBy("priority").agg(mark(30), mark(60), mark(90), mark(120)),
        Seq("priority"), "left_outer")
        .select(col("priority"), col("n_orders"), col("n_events"),
          coalesce(col("logs30_unat"), lit(0L)).as("logs30_unat"),
          coalesce(col("logs60_unat"), lit(0L)).as("logs60_unat"),
          coalesce(col("logs90_unat"), lit(0L)).as("logs90_unat"),
          coalesce(col("logs120_unat"), lit(0L)).as("logs120_unat"))
        .orderBy("priority")
    },
    Some(
      "WITH del AS (SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS delivered " +
        "FROM lineitem GROUP BY 1), " +
        "obs AS (SELECT o_orderpriority AS priority, " +
        "CASE WHEN delivered < DATE '2001-06-01' " +
        "THEN datediff('day', CAST(o_orderdate AS DATE), delivered) " +
        "ELSE datediff('day', CAST(o_orderdate AS DATE), DATE '2001-06-01') END AS t, " +
        "CASE WHEN delivered < DATE '2001-06-01' THEN 1 ELSE 0 END AS ev " +
        "FROM orders JOIN del ON l_orderkey = o_orderkey " +
        "WHERE CAST(o_orderdate AS DATE) < DATE '2001-06-01'), " +
        "byt AS (SELECT priority, t, sum(ev) AS d, sum(1 - ev) AS c FROM obs GROUP BY 1, 2), " +
        "tot AS (SELECT priority, count(*) AS n_orders, CAST(sum(ev) AS BIGINT) AS n_events " +
        "FROM obs GROUP BY 1), " +
        "risk AS (SELECT b.priority, t, d, n_orders - coalesce(sum(d + c) OVER " +
        "(PARTITION BY b.priority ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_t " +
        "FROM byt b JOIN tot USING (priority)), " +
        "cum AS (SELECT priority, t, sum(CAST(floor(ln(CAST(n_t - d AS DOUBLE) / CAST(n_t AS DOUBLE)) * 1e6) AS BIGINT)) " +
        "OVER (PARTITION BY priority ORDER BY t) AS logS FROM risk WHERE d > 0 AND n_t > d), " +
        "marks AS (SELECT priority, " +
        "coalesce(max_by(logS, t) FILTER (WHERE t <= 30), 0) AS logs30_unat, " +
        "coalesce(max_by(logS, t) FILTER (WHERE t <= 60), 0) AS logs60_unat, " +
        "coalesce(max_by(logS, t) FILTER (WHERE t <= 90), 0) AS logs90_unat, " +
        "coalesce(max_by(logS, t) FILTER (WHERE t <= 120), 0) AS logs120_unat " +
        "FROM cum GROUP BY 1) " +
        "SELECT t.priority, t.n_orders, t.n_events, " +
        "CAST(coalesce(logs30_unat, 0) AS BIGINT) AS logs30_unat, " +
        "CAST(coalesce(logs60_unat, 0) AS BIGINT) AS logs60_unat, " +
        "CAST(coalesce(logs90_unat, 0) AS BIGINT) AS logs90_unat, " +
        "CAST(coalesce(logs120_unat, 0) AS BIGINT) AS logs120_unat " +
        "FROM tot t LEFT JOIN marks USING (priority) ORDER BY priority"
    ),
  )

  /** Shared by q236/q239: the per-customer (pre-period X = 1996 spend,
    * metric Y = 1997 spend, md5 arm) frame reduced to ONE row of exact
    * DECIMAL(38,0) moments — n, Σx, Σy, Σxy, Σx², Σy², and the arm-A
    * slice (na, Σx_A, Σy_A). Everything an experiment readout needs
    * (lift, CUPED θ/ρ², SRM, MDE) assembles from these nine integers.
    */
  private def experimentMoments(s: SparkSession, d: String): DataFrame =
    momentsOf(experimentBase(s, d))

  /** The per-customer experiment frame: (c_custkey, x = 1996 spend
    * cents, y = 1997 spend cents, md5 arm) — exact DECIMAL(38,0).
    */
  private def experimentBase(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    def spend(lo: String, hi: String, as: String) = orders(s, d)
      .where(col("o_orderdate").cast("date") >= lit(lo).cast("date") &&
        col("o_orderdate").cast("date") < lit(hi).cast("date"))
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast(big).as(as))
    val pre = spend("1996-01-01", "1997-01-01", "x")
      .withColumnRenamed("o_custkey", "ck1")
    val post = spend("1997-01-01", "1998-01-01", "y")
      .withColumnRenamed("o_custkey", "ck2")
    customer(s, d).select(col("c_custkey"))
      .join(pre, col("c_custkey") === col("ck1"), "left_outer")
      .join(post, col("c_custkey") === col("ck2"), "left_outer")
      .select(col("c_custkey"),
        coalesce(col("x"), lit(0).cast(big)).as("x"),
        coalesce(col("y"), lit(0).cast(big)).as("y"))
      .withColumn("arm",
        when(substring(md5(concat(lit("graft-cuped:"),
          col("c_custkey").cast("string"))), 1, 2) < "80", "A")
          .otherwise("B"))
  }

  private def momentsOf(base: DataFrame): DataFrame = {
    val big = DecimalType(38, 0)
    base.agg(
        count(lit(1)).cast(big).as("n"),
        sum("x").cast(big).as("sx"), sum("y").cast(big).as("sy"),
        sum(col("x") * col("y")).cast(big).as("sxy"),
        sum(col("x") * col("x")).cast(big).as("sxx"),
        sum(col("y") * col("y")).cast(big).as("syy"),
        sum(when(col("arm") === "A", 1L).otherwise(0L)).cast(big).as("na"),
        sum(when(col("arm") === "A", col("x")).otherwise(lit(0).cast(big)))
          .cast(big).as("sxa"),
        sum(when(col("arm") === "A", col("y")).otherwise(lit(0).cast(big)))
          .cast(big).as("sya"))
        .withColumn("nb", (col("n") - col("na")).cast(big))
        .withColumn("sxb", (col("sx") - col("sxa")).cast(big))
        .withColumn("syb", (col("sy") - col("sya")).cast(big))
        .withColumn("covnum",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast(big))
        .withColumn("varxnum",
          (col("n") * col("sxx") - col("sx") * col("sx")).cast(big))
        .withColumn("varynum",
          (col("n") * col("syy") - col("sy") * col("sy")).cast(big))
  }

  // ---------------------------------------------------------------------
  /** The q236/q239/q242 oracles' shared CTEs: per-customer pre (1996)
    * and post (1997) spend in integer cents (`pre`, `post`), every
    * customer with both (`base`, plus the md5 `arm` when `withArm`),
    * and the exact moment sums (`m`: n, Σx, Σy, Σxy, Σx², Σy², and per
    * arm A count/Σx/Σy when `withArm`). Ends with ", ".
    */
  private def experimentCtesSql(withArm: Boolean): String =
    "pre AS (SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS x " +
      "FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01' AND CAST(o_orderdate AS DATE) < DATE '1997-01-01' GROUP BY 1), " +
      "post AS (SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS y " +
      "FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01' AND CAST(o_orderdate AS DATE) < DATE '1998-01-01' GROUP BY 1), " +
      "base AS (SELECT c_custkey, coalesce(x, 0) AS x, coalesce(y, 0) AS y" +
      (if (withArm) ", CASE WHEN substring(md5('graft-cuped:' || CAST(c_custkey AS VARCHAR)), 1, 2) < '80' THEN 'A' ELSE 'B' END AS arm"
       else "") +
      " FROM customer LEFT JOIN pre ON pre.o_custkey = c_custkey LEFT JOIN post ON post.o_custkey = c_custkey), " +
      "m AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy, " +
      "sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy" +
      (if (withArm) ", CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS HUGEINT) AS na, " +
        "sum(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS sxa, " +
        "sum(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS sya"
       else "") +
      " FROM base), "

  // q236 — CUPED variance reduction for the A/B report (Deng, Xu,
  // Kohavi & Walker, WSDM 2013): the experiment metric (per-customer
  // 1997 spend) adjusted by its PRE-period covariate (1996 spend),
  // Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) — the adjustment every
  // production experimentation platform applies before reading a
  // lift, because it shrinks metric variance by ρ² without biasing
  // the arm difference (θ is pooled, X predates assignment). Output:
  // arm sizes, raw and adjusted mean spend, θ, and the achieved
  // variance-reduction ρ² in floored bp. Completes q155 (assignment +
  // lift) with the sensitivity half of the experimentation stack.
  //
  // Determinism: all moments (Σx, Σy, Σxy, Σx², Σy², arm slices)
  // accumulate as exact DECIMAL(38,0) cents; covariance/variance
  // NUMERATORS (n·Σxy − ΣxΣy etc.) are still exact integers; the only
  // float steps are the final ratio assemblies — IEEE-exact ops (+,−,
  // ×,÷) on identical inputs in identical shapes, the q166 rule —
  // rounded at 6/4 places, and ρ²·10⁴ floors. Raw means are exact
  // milli-cents via integer div. Arms are the q155 md5 rule (pure
  // function of the key: reproducible across engines, reruns, growth).
  //
  // Scale: two date-pruned per-customer aggregates (partial-agg), two
  // custkey-keyed joins against the customer dim, ONE single-row
  // moment aggregate — nothing after the per-customer frame depends
  // on data volume, and the covariate needs no extra pass at 100 TB
  // because it comes from the same keyed aggregate shape the metric
  // does. Assumes var(X) > 0 (any real pre-period does).
  val q236: QuerySpec = QuerySpec(
    "q236_cuped",
    (s, d) => experimentMoments(s, d)
        .select(
          col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
          expr("CAST((1000 * sya) div na AS BIGINT)").as("raw_a_milli"),
          expr("CAST((1000 * syb) div nb AS BIGINT)").as("raw_b_milli"),
          round(expr("CAST(covnum AS DOUBLE) / CAST(varxnum AS DOUBLE)"), 6)
            .as("theta"),
          round(expr("1000.0 * (CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) - " +
            "(CAST(covnum AS DOUBLE) / CAST(varxnum AS DOUBLE)) * " +
            "(CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"), 4)
            .as("adj_a_milli"),
          round(expr("1000.0 * (CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) - " +
            "(CAST(covnum AS DOUBLE) / CAST(varxnum AS DOUBLE)) * " +
            "(CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"), 4)
            .as("adj_b_milli"),
          expr("CAST(floor(10000.0 * (CAST(covnum AS DOUBLE) * CAST(covnum AS DOUBLE)) / " +
            "(CAST(varxnum AS DOUBLE) * CAST(varynum AS DOUBLE))) AS BIGINT)")
            .as("var_red_bp")),
    Some(
      s"WITH ${experimentCtesSql(withArm = true)}" +
        "dd AS (SELECT *, n - na AS nb, sx - sxa AS sxb, sy - sya AS syb, " +
        "n * sxy - sx * sy AS covnum, n * sxx - sx * sx AS varxnum, n * syy - sy * sy AS varynum FROM m) " +
        "SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, " +
        "CAST((1000 * sya) // na AS BIGINT) AS raw_a_milli, " +
        "CAST((1000 * syb) // nb AS BIGINT) AS raw_b_milli, " +
        "round(CAST(covnum AS DOUBLE) / CAST(varxnum AS DOUBLE), 6) AS theta, " +
        "round(1000.0 * (CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) - " +
        "(CAST(covnum AS DOUBLE) / CAST(varxnum AS DOUBLE)) * " +
        "(CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 4) AS adj_a_milli, " +
        "round(1000.0 * (CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) - " +
        "(CAST(covnum AS DOUBLE) / CAST(varxnum AS DOUBLE)) * " +
        "(CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 4) AS adj_b_milli, " +
        "CAST(floor(10000.0 * (CAST(covnum AS DOUBLE) * CAST(covnum AS DOUBLE)) / " +
        "(CAST(varxnum AS DOUBLE) * CAST(varynum AS DOUBLE))) AS BIGINT) AS var_red_bp " +
        "FROM dd"
    ),
  )

  // ---------------------------------------------------------------------
  // q237 — revenue-concentration audit per market segment: exact Gini
  // coefficient + top-decile share of per-customer lifetime spend —
  // the inequality read-out (Lorenz geometry) every mixture/sampling
  // decision wants before reweighting a skewed corpus (a segment at
  // Gini 0.9 and one at 0.3 need different dedup/sampling budgets).
  //
  // Determinism: G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) over the 1-based
  // per-segment rank of the (x, custkey) total order — every term an
  // exact DECIMAL(38,0) integer, the numerator ≥ 0 by construction
  // (sorted ascending) so floored div is sign-safe; top-decile share
  // reads the exact prefix sum at rank ⌊9n/10⌋ (i ≤ ⌊9n/10⌋ ⟺
  // 10i ≤ 9n — integer forms both engines share).
  //
  // Scale: per-segment rank WITHOUT a per-segment window (5 segments =
  // the q67/q83 few-groups bottleneck): ONE Ranks.withGlobalPrefixSum
  // pass over the (segment, x, ck) total order gives global rank +
  // running sum, and per-segment values are recovered by subtracting
  // 5-row broadcast offsets — the range partitioning distributes
  // however large the customer dimension grows. The fact scan
  // partial-aggs to per-customer rows first.
  val q237: QuerySpec = QuerySpec(
    "q237_gini_concentration",
    (s, d) => {
      val big = DecimalType(38, 0)
      val spendPer = orders(s, d).groupBy(col("o_custkey"))
        .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(big).as("xr"))
      val base = customer(s, d)
        .select(col("c_custkey").as("ck"), col("c_mktsegment").as("segment"))
        .join(spendPer, col("ck") === col("o_custkey"), "left_outer")
        .select(col("segment"), col("ck"),
          coalesce(col("xr"), lit(0).cast(big)).as("x"))
      val ranked = Ranks.withGlobalPrefixSum(
        base, Seq(col("segment").asc, col("x").asc, col("ck").asc),
        col("x"), "grk", "gcum")
      // 5-row segment frame: counts/sums + exclusive prefix offsets —
      // aggregated from the RANKED frame (Ranks pins its input, so
      // this branch reuses that one materialization instead of
      // re-running the customer⋈spend join a second time)
      val offs = ranked.groupBy(col("segment").as("oseg"))
        .agg(count(lit(1)).as("n"), sum("x").cast(big).as("sx"))
        .withColumn("noff", coalesce(
          sum("n").over(Window.orderBy("oseg").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("soff", coalesce(
          sum("sx").over(Window.orderBy("oseg").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0).cast(big)))
      ranked.join(broadcast(offs), col("segment") === col("oseg"))
        .withColumn("i", (col("grk") - col("noff")).cast(big))
        .withColumn("cum", (col("gcum") - col("soff")).cast(big))
        .groupBy("segment")
        .agg(
          max("n").as("nn"), max("sx").as("ssx"),
          sum(col("i") * col("x")).cast(big).as("ss"),
          coalesce(
            max(when(col("i") * 10 <= col("n") * 9, col("cum"))),
            lit(0).cast(big)).as("cumk"))
        .select(
          col("segment"), col("nn").as("n_customers"),
          col("ssx").cast("long").as("spend_cents"),
          expr("CAST((10000 * (2 * ss - (nn + 1) * ssx)) div (nn * ssx) AS BIGINT)")
            .as("gini_bp"),
          expr("CAST((10000 * (ssx - cumk)) div ssx AS BIGINT)").as("top10_bp"))
        .orderBy("segment")
    },
    Some(
      "WITH spend AS (SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS x " +
        "FROM orders GROUP BY 1), " +
        "base AS (SELECT c_mktsegment AS segment, c_custkey AS ck, coalesce(x, 0) AS x " +
        "FROM customer LEFT JOIN spend ON o_custkey = c_custkey), " +
        "rk AS (SELECT segment, x, row_number() OVER w AS i, sum(x) OVER w AS cum, " +
        "count(*) OVER (PARTITION BY segment) AS n " +
        "FROM base WINDOW w AS (PARTITION BY segment ORDER BY x, ck)) " +
        "SELECT segment, max(n) AS n_customers, CAST(sum(x) AS BIGINT) AS spend_cents, " +
        "CAST((10000 * (2 * sum(CAST(i AS HUGEINT) * x) - (max(n) + 1) * sum(x))) // (max(n) * sum(x)) AS BIGINT) AS gini_bp, " +
        "CAST((10000 * (sum(x) - coalesce(max(CASE WHEN i * 10 <= n * 9 THEN cum END), 0))) // sum(x) AS BIGINT) AS top10_bp " +
        "FROM rk GROUP BY 1 ORDER BY segment"
    ),
  )

  // ---------------------------------------------------------------------
  // q238 — Benford first-digit deviation per return flag: observed vs
  // expected leading-digit distribution of lineitem prices, the
  // data-forensics screen (Benford 1938; fabricated or unit-mangled
  // numeric columns drift from log-uniform digit frequencies long
  // before summary stats notice). q102 profiles the raw digit SHARES;
  // this completes it into the TEST — the fixed expected-law table and
  // the per-digit deviation the screen actually alerts on. Per (flag, digit 1–9): count,
  // observed ppm, expected ppm, absolute deviation ppm — the per-flag
  // Σ|obs − exp| is a total-variation distance in exact ppm.
  //
  // Determinism: the leading digit is substring(CAST(cents AS VARCHAR))
  // of a positive integer — no float anywhere; expected ppm are FIXED
  // literals ⌊log₁₀(1+1/d)·10⁶⌋ (the Poisson-threshold idiom of q234:
  // pin the constants, not the transcendental); observed ppm by
  // integer div against the flag total.
  //
  // Scale: one fact pass partial-aggs to |flags|·9 rows; flag totals
  // re-aggregate from those 27 rows (no second scan, no window).
  val q238: QuerySpec = QuerySpec(
    "q238_benford_deviation",
    (s, d) => {
      import s.implicits._
      val expPpm = Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L,
        57991L, 51152L, 45757L)
      val cells = lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          substring((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("flag", "digit")
        .agg(count(lit(1)).as("cnt"))
      val tot = cells.groupBy("flag").agg(sum("cnt").as("n"))
      val exp = expPpm.zipWithIndex
        .map { case (p, i) => (i + 1, p) }
        .toDF("edigit", "exp_ppm")
      cells.join(tot, Seq("flag")).join(broadcast(exp), col("digit") === col("edigit"))
        .select(col("flag"), col("digit"), col("cnt"),
          expr("(1000000 * cnt) div n").as("obs_ppm"), col("exp_ppm"),
          expr("abs((1000000 * cnt) div n - exp_ppm)").as("dev_ppm"))
        .orderBy("flag", "digit")
    },
    Some(
      "WITH cells AS (SELECT l_returnflag AS flag, " +
        "CAST(substring(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit, " +
        "count(*) AS cnt FROM lineitem GROUP BY 1, 2), " +
        "tot AS (SELECT flag, sum(cnt) AS n FROM cells GROUP BY 1), " +
        "exp AS (SELECT unnest(generate_series(1, 9)) AS edigit, " +
        "unnest([301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152, 45757]) AS exp_ppm) " +
        "SELECT flag, digit, cnt, CAST((1000000 * cnt) // n AS BIGINT) AS obs_ppm, " +
        "CAST(exp_ppm AS BIGINT) AS exp_ppm, " +
        "CAST(abs((1000000 * cnt) // n - exp_ppm) AS BIGINT) AS dev_ppm " +
        "FROM cells JOIN tot USING (flag) JOIN exp ON digit = edigit " +
        "ORDER BY flag, digit"
    ),
  )

  // ---------------------------------------------------------------------
  // q239 — experiment DESIGN guardrails from the same nine moments
  // q236 reads: sample-ratio-mismatch χ² (the assignment-health check
  // every platform runs before trusting a readout — a biased hash or
  // lossy logging shows up here first), metric standard deviation, and
  // the minimum detectable effect at α = 0.05 two-sided / power 0.8 —
  // raw AND CUPED-adjusted (×√(1−ρ²)), so the variance reduction q236
  // measures is priced directly in "how much smaller an effect can
  // this experiment see".
  //
  // Determinism: SRM χ²·10³ = (10³·(n_A−n_B)²) div n — exact integers
  // (squared numerator ≥ 0, floored div sign-safe; >3841 milli ⇒
  // p < 0.05 against χ²₁). MDE = (z₀.₉₇₅+z₀.₈)·√(σ²·(1/n_A+1/n_B))
  // with σ² = varynum/n² — z constants are FIXED literals 2.801585
  // (pin the constants, q234/q238 idiom), sqrt/÷ are IEEE-exact on
  // exact integer inputs in identical shapes (the q166 rule), round 4.
  //
  // Scale: inherits experimentMoments' shape — per-customer aggregates
  // + ONE single-row moment frame; this query adds zero passes.
  val q239: QuerySpec = {
    val mde = "2.801585 * sqrt((CAST(varynum AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) * " +
      "(1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))"
    val rho2 = "(CAST(covnum AS DOUBLE) * CAST(covnum AS DOUBLE)) / " +
      "(CAST(varxnum AS DOUBLE) * CAST(varynum AS DOUBLE))"
    QuerySpec(
      "q239_experiment_design",
      (s, d) => experimentMoments(s, d).select(
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        expr("CAST((1000 * (na - nb) * (na - nb)) div n AS BIGINT)")
          .as("srm_chi2_milli"),
        round(expr("sqrt(CAST(varynum AS DOUBLE)) / CAST(n AS DOUBLE)"), 4)
          .as("sd_y_cents"),
        round(expr(mde), 4).as("mde_cents"),
        round(expr(s"($mde) * sqrt(1.0 - $rho2)"), 4).as("mde_cuped_cents")),
      Some(
        s"WITH ${experimentCtesSql(withArm = true)}" +
          "dd AS (SELECT *, n - na AS nb, " +
          "n * sxy - sx * sy AS covnum, n * sxx - sx * sx AS varxnum, n * syy - sy * sy AS varynum FROM m) " +
          "SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, " +
          "CAST((1000 * (na - nb) * (na - nb)) // n AS BIGINT) AS srm_chi2_milli, " +
          "round(sqrt(CAST(varynum AS DOUBLE)) / CAST(n AS DOUBLE), 4) AS sd_y_cents, " +
          "round(2.801585 * sqrt((CAST(varynum AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) * " +
          "(1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))), 4) AS mde_cents, " +
          "round((2.801585 * sqrt((CAST(varynum AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) * " +
          "(1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))) * " +
          "sqrt(1.0 - (CAST(covnum AS DOUBLE) * CAST(covnum AS DOUBLE)) / " +
          "(CAST(varxnum AS DOUBLE) * CAST(varynum AS DOUBLE))), 4) AS mde_cuped_cents " +
          "FROM dd"
      ),
    )
  }

  // ---------------------------------------------------------------------
  // q240 — isotonic calibration by pool-adjacent-violators (Barlow et
  // al. 1972; Zadrozny & Elkan 2002 for classifier calibration): the
  // MONOTONE regression of conversion rate on score bin — the fit a
  // scoring pipeline ships when the raw per-bin rates (q211's table)
  // wiggle against the known monotone prior. Computed via the minimax
  // identity f(i) = max_{j≤i} min_{k≥i} mean(y_j..y_k), which is pure
  // relational algebra over the BIN table — no sequential pooling loop.
  //
  // Determinism: bins from FIXED integer edges on exact cents (clamp
  // ((cents+10⁵) div 55·10³, 0..19) — q198's pin-the-edges rule, and
  // the div runs on HUGEINT in DuckDB, never DECIMAL //); block means
  // are ONE double division of exact prefix-sum integers (IEEE-exact,
  // identical shape both engines); min/max over doubles are
  // value-deterministic; raw rates exact bp.
  //
  // Scale: the fact pass reduces to ≤20 bin rows; the j≤k pair frame
  // (≤210 rows) and the (i,j,k) minimax joins are DOMAIN-bounded
  // nested-loop joins over that bin table — the O(B²) work is on B
  // = 20 CONFIG rows however large the corpus, the same bounded-frame
  // exception as q78/q174 (a per-row PAV sweep would be sequential;
  // this shape stays declarative and scale-free).
  val q240: QuerySpec = QuerySpec(
    "q240_isotonic_calibration",
    (s, d) => {
      val conv = orders(s, d)
        .where(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1998-01-01").cast("date"))
        .select(col("o_custkey").as("ck")).distinct()
        .withColumn("lab", lit(1L))
      val scored = customer(s, d)
        .select(col("c_custkey"),
          expr("least(greatest(CAST((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) + 100000) div 55000 AS BIGINT), 0), 19)")
            .as("bin"))
        .join(conv, col("c_custkey") === col("ck"), "left_outer")
        .select(col("bin"), coalesce(col("lab"), lit(0L)).as("label"))
      val bins = scored.groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("label").as("g"))
      // ≤20 rows from here down — every window/join is domain-bounded
      val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
      val pref = bins
        .withColumn("ncum", sum("n").over(w))
        .withColumn("gcum", sum("g").over(w))
      val pairs = pref
        .select(col("bin").as("jb"),
          (col("ncum") - col("n")).as("nprev"), (col("gcum") - col("g")).as("gprev"))
        .join(pref.select(col("bin").as("kb"), col("ncum").as("nk"), col("gcum").as("gk")),
          col("jb") <= col("kb"))
        .select(col("jb"), col("kb"),
          ((col("gk") - col("gprev")).cast("double") /
            (col("nk") - col("nprev")).cast("double")).as("mean"))
      val iso = bins.select(col("bin").as("i"))
        .join(pairs, col("jb") <= col("i") && col("kb") >= col("i"))
        .groupBy("i", "jb").agg(min("mean").as("mn"))
        .groupBy("i").agg(max("mn").as("fit"))
      bins.join(iso, col("bin") === col("i"))
        .select(col("bin"), col("n"), col("g"),
          expr("(10000 * g) div n").as("raw_bp"),
          round(col("fit"), 6).as("iso_rate"))
        .orderBy("bin")
    },
    Some(
      "WITH conv AS (SELECT DISTINCT o_custkey FROM orders " +
        "WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01' AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'), " +
        "scored AS (SELECT CAST(least(greatest((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS HUGEINT) + 100000) // 55000, 0), 19) AS BIGINT) AS bin, " +
        "CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END AS label " +
        "FROM customer LEFT JOIN conv ON o_custkey = c_custkey), " +
        "bins AS (SELECT bin, count(*) AS n, sum(label) AS g FROM scored GROUP BY 1), " +
        "pref AS (SELECT bin, n, g, sum(n) OVER (ORDER BY bin) AS ncum, sum(g) OVER (ORDER BY bin) AS gcum FROM bins), " +
        "pairs AS (SELECT j.bin AS jb, k.bin AS kb, " +
        "CAST(k.gcum - (j.gcum - j.g) AS DOUBLE) / CAST(k.ncum - (j.ncum - j.n) AS DOUBLE) AS mean " +
        "FROM pref j JOIN pref k ON j.bin <= k.bin), " +
        "mm AS (SELECT i.bin AS i, p.jb, min(p.mean) AS mn FROM bins i " +
        "JOIN pairs p ON p.jb <= i.bin AND p.kb >= i.bin GROUP BY 1, 2), " +
        "iso AS (SELECT i, max(mn) AS fit FROM mm GROUP BY 1) " +
        "SELECT b.bin AS bin, b.n AS n, CAST(b.g AS BIGINT) AS g, " +
        "CAST((10000 * g) // n AS BIGINT) AS raw_bp, round(fit, 6) AS iso_rate " +
        "FROM bins b JOIN iso ON iso.i = b.bin ORDER BY bin"
    ),
  )

  // ---------------------------------------------------------------------
  // q242 — Mahalanobis multivariate outliers over the (pre, post)
  // spend plane: the top-20 customers whose 1996/1997 spend pair is
  // furthest from the joint distribution in covariance-adjusted
  // distance — the MULTIVARIATE complement of q90's univariate
  // median/MAD screen (a customer can sit inside both marginals yet be
  // a wild BIVARIATE outlier: huge pre-spend, zero post-spend — the
  // churn whale exactly this distance surfaces).
  //
  // Determinism: m² = (Vy·dx² − 2·Cxy·dx·dy + Vx·dy²)/(Vx·Vy − Cxy²)
  // where dx = n·x − Σx (exact integer deviations scaled by n) and
  // Vx/Vy/Cxy are the exact co-moment numerators q236/q239 already
  // compute — every input an exact DECIMAL(38,0), cast to double at
  // the leaves of ONE identical assembly (q166 rule), so the ranking
  // doubles are bit-equal across engines; ties broken by custkey.
  //
  // Scale: the per-customer frame cross-joins the 1-row moment anchor;
  // top-20 by (m² desc, custkey) compiles to TakeOrderedAndProject (a
  // bounded heap per partition + 20-row merge — no global sort).
  val q242: QuerySpec = QuerySpec(
    "q242_mahalanobis_outliers",
    (s, d) => {
      val m2 = "(CAST(varynum AS DOUBLE) * (CAST(dx AS DOUBLE) * CAST(dx AS DOUBLE)) - " +
        "2.0 * CAST(covnum AS DOUBLE) * (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)) + " +
        "CAST(varxnum AS DOUBLE) * (CAST(dy AS DOUBLE) * CAST(dy AS DOUBLE))) / " +
        "(CAST(varxnum AS DOUBLE) * CAST(varynum AS DOUBLE) - " +
        "CAST(covnum AS DOUBLE) * CAST(covnum AS DOUBLE))"
      val big = DecimalType(38, 0)
      val base = experimentBase(s, d)
      base.crossJoin(momentsOf(base)) // 1-row moment anchor
        .withColumn("dx", (col("n") * col("x") - col("sx")).cast(big))
        .withColumn("dy", (col("n") * col("y") - col("sy")).cast(big))
        .withColumn("m2", expr(m2))
        .orderBy(col("m2").desc, col("c_custkey").asc)
        .limit(20)
        .select(col("c_custkey"),
          col("x").cast("long").as("x_cents"), col("y").cast("long").as("y_cents"),
          round(col("m2"), 6).as("m2"))
    },
    Some(
      s"WITH ${experimentCtesSql(withArm = false)}" +
        "dd AS (SELECT n, sx, sy, n * sxy - sx * sy AS covnum, " +
        "n * sxx - sx * sx AS varxnum, n * syy - sy * sy AS varynum FROM m), " +
        "dist AS (SELECT c_custkey, x, y, " +
        "(CAST(varynum AS DOUBLE) * (CAST(n * x - sx AS DOUBLE) * CAST(n * x - sx AS DOUBLE)) - " +
        "2.0 * CAST(covnum AS DOUBLE) * (CAST(n * x - sx AS DOUBLE) * CAST(n * y - sy AS DOUBLE)) + " +
        "CAST(varxnum AS DOUBLE) * (CAST(n * y - sy AS DOUBLE) * CAST(n * y - sy AS DOUBLE))) / " +
        "(CAST(varxnum AS DOUBLE) * CAST(varynum AS DOUBLE) - " +
        "CAST(covnum AS DOUBLE) * CAST(covnum AS DOUBLE)) AS m2 " +
        "FROM base CROSS JOIN dd) " +
        "SELECT c_custkey, CAST(x AS BIGINT) AS x_cents, CAST(y AS BIGINT) AS y_cents, " +
        "round(m2, 6) AS m2 FROM dist ORDER BY m2 DESC, c_custkey LIMIT 20"
    ),
  )

  // ---------------------------------------------------------------------
  // q244 — difference-in-differences with a placebo parallel-trends
  // check (Card & Krueger 1994 is the canonical deployment): the
  // causal estimate for a treatment that was NOT randomized — here a
  // policy footprint over nations 0–4 (fixed rule), outcome = per-
  // customer spend, pre = 1996, post = 1997. DiD = (post−pre gap of
  // treated) − (gap of controls) nets out both group-level baselines
  // and the common time trend; its identifying assumption (parallel
  // trends) is CHECKED, not assumed: the same estimator on the
  // 1995→1996 pre-period (placebo) must be ≈ 0. Completes the
  // experiment stack's observational half (q155 lift + q236 CUPED +
  // q239 guardrails all need randomization; this is what you run when
  // you didn't get to randomize).
  //
  // Determinism: all period sums exact DECIMAL(38,0) cents; estimates
  // are rationals with cleared denominators — DiD·10³ =
  // (10³·(n_C·ΔT − n_T·ΔC)) / (n_T·n_C) with the TOWARD-ZERO
  // sign-split division (the q231 idiom: Spark div truncates, DuckDB
  // // floors; they agree only on non-negatives, and gaps/DiD can be
  // negative).
  //
  // Scale: three date-pruned per-customer aggregates joined on
  // custkey, ONE conditional group aggregate to a single row —
  // nothing after the per-customer frame scales with data.
  val q244: QuerySpec = {
    def sdiv(num: String, den: String) =
      s"CASE WHEN $num >= 0 THEN (1000 * ($num)) div ($den) " +
        s"ELSE -((1000 * (-($num))) div ($den)) END"
    def sdivSql(num: String, den: String) =
      s"CASE WHEN $num >= 0 THEN (1000 * ($num)) // ($den) " +
        s"ELSE -((1000 * (-($num))) // ($den)) END"
    val didNum = "nc * (s97t - s96t) - nt * (s97c - s96c)"
    val plaNum = "nc * (s96t - s95t) - nt * (s96c - s95c)"
    QuerySpec(
      "q244_diff_in_diff",
      (s, d) => {
        val big = DecimalType(38, 0)
        def spend(lo: String, hi: String, as: String) = orders(s, d)
          .where(col("o_orderdate").cast("date") >= lit(lo).cast("date") &&
            col("o_orderdate").cast("date") < lit(hi).cast("date"))
          .groupBy(col("o_custkey"))
          .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
            .cast(big).as(as))
        val base = customer(s, d)
          .select(col("c_custkey"), (col("c_nationkey") < 5).as("treated"))
          .join(spend("1995-01-01", "1996-01-01", "v95")
            .withColumnRenamed("o_custkey", "k1"),
            col("c_custkey") === col("k1"), "left_outer")
          .join(spend("1996-01-01", "1997-01-01", "v96")
            .withColumnRenamed("o_custkey", "k2"),
            col("c_custkey") === col("k2"), "left_outer")
          .join(spend("1997-01-01", "1998-01-01", "v97")
            .withColumnRenamed("o_custkey", "k3"),
            col("c_custkey") === col("k3"), "left_outer")
          .select(col("treated"),
            coalesce(col("v95"), lit(0).cast(big)).as("v95"),
            coalesce(col("v96"), lit(0).cast(big)).as("v96"),
            coalesce(col("v97"), lit(0).cast(big)).as("v97"))
        base.agg(
          sum(when(col("treated"), 1L).otherwise(0L)).cast(big).as("nt"),
          sum(when(!col("treated"), 1L).otherwise(0L)).cast(big).as("nc"),
          sum(when(col("treated"), col("v95")).otherwise(lit(0).cast(big))).cast(big).as("s95t"),
          sum(when(col("treated"), col("v96")).otherwise(lit(0).cast(big))).cast(big).as("s96t"),
          sum(when(col("treated"), col("v97")).otherwise(lit(0).cast(big))).cast(big).as("s97t"),
          sum(when(!col("treated"), col("v95")).otherwise(lit(0).cast(big))).cast(big).as("s95c"),
          sum(when(!col("treated"), col("v96")).otherwise(lit(0).cast(big))).cast(big).as("s96c"),
          sum(when(!col("treated"), col("v97")).otherwise(lit(0).cast(big))).cast(big).as("s97c"))
          .select(
            col("nt").cast("long").as("n_treat"),
            col("nc").cast("long").as("n_ctrl"),
            expr(s"CAST(${sdiv("s97t - s96t", "nt")} AS BIGINT)").as("treat_gap_milli"),
            expr(s"CAST(${sdiv("s97c - s96c", "nc")} AS BIGINT)").as("ctrl_gap_milli"),
            expr(s"CAST(${sdiv(didNum, "nt * nc")} AS BIGINT)").as("did_milli"),
            expr(s"CAST(${sdiv(plaNum, "nt * nc")} AS BIGINT)").as("placebo_milli"))
      },
      Some(
        "WITH s95 AS (SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS v95 " +
          "FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01' AND CAST(o_orderdate AS DATE) < DATE '1996-01-01' GROUP BY 1), " +
          "s96 AS (SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS v96 " +
          "FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01' AND CAST(o_orderdate AS DATE) < DATE '1997-01-01' GROUP BY 1), " +
          "s97 AS (SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS v97 " +
          "FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01' AND CAST(o_orderdate AS DATE) < DATE '1998-01-01' GROUP BY 1), " +
          "base AS (SELECT c_nationkey < 5 AS treated, coalesce(v95, 0) AS v95, " +
          "coalesce(v96, 0) AS v96, coalesce(v97, 0) AS v97 FROM customer " +
          "LEFT JOIN s95 ON s95.o_custkey = c_custkey " +
          "LEFT JOIN s96 ON s96.o_custkey = c_custkey " +
          "LEFT JOIN s97 ON s97.o_custkey = c_custkey), " +
          "m AS (SELECT CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS HUGEINT) AS nt, " +
          "CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS HUGEINT) AS nc, " +
          "sum(CASE WHEN treated THEN v95 ELSE 0 END) AS s95t, " +
          "sum(CASE WHEN treated THEN v96 ELSE 0 END) AS s96t, " +
          "sum(CASE WHEN treated THEN v97 ELSE 0 END) AS s97t, " +
          "sum(CASE WHEN NOT treated THEN v95 ELSE 0 END) AS s95c, " +
          "sum(CASE WHEN NOT treated THEN v96 ELSE 0 END) AS s96c, " +
          "sum(CASE WHEN NOT treated THEN v97 ELSE 0 END) AS s97c FROM base) " +
          "SELECT CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl, " +
          s"CAST(${sdivSql("s97t - s96t", "nt")} AS BIGINT) AS treat_gap_milli, " +
          s"CAST(${sdivSql("s97c - s96c", "nc")} AS BIGINT) AS ctrl_gap_milli, " +
          s"CAST(${sdivSql(didNum, "nt * nc")} AS BIGINT) AS did_milli, " +
          s"CAST(${sdivSql(plaNum, "nt * nc")} AS BIGINT) AS placebo_milli " +
          "FROM m"
      ),
    )
  }

  val all: Seq[QuerySpec] =
    Seq(q168, q169, q170, q171, q172, q175, q176, q182, q183, q184, q185, q198,
      q232, q233, q234, q235, q236, q237, q238, q239, q240, q242, q244)
}
