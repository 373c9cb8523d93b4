package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Labels, Tables}
import graft.sources.Bucketed

/** Relational query surface: scans, projection/filter, joins, set ops,
  * aggregation, windows, sorts/top-k — the SURVEY.md §2 inventory
  * re-expressed over the driver fixtures, plus the join breadth the
  * reference lacks (SURVEY.md §2.3: the reference has zero joins).
  *
  * Design rules applied throughout (100 TB posture):
  *  - Filters and projections are declared up front so Catalyst pushes
  *    them into the parquet scan (PushedFilters / ReadSchema pruning).
  *  - Small dimension tables (region 5 rows, nation 25 rows) are
  *    explicitly `broadcast()` so the big fact side never shuffles for
  *    those joins; big-big joins are left to sort-merge + AQE.
  *  - Double-typed SUMs are computed as exact integer "cents"
  *    (`sum(floor(x*100))`): floating-point summation order differs
  *    between runs/engines, so hash-checked aggregates must be
  *    order-independent. MIN/MAX/CONT are naturally exact.
  *  - Every checked query ends in a deterministic ORDER BY.
  */
object Relational {
  private val Threshold = 400000.0 // o_totalprice high-value cutoff

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 scan + A1-style grouped agg (TPC-H Q1 shape; reference full-scan
    // aggregations: scripts/preprocess_cicids2017.py:89-95)
    "q01_pricing_summary" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" <= to_timestamp(lit("1998-09-02")))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum(floor($"l_quantity" * 100)).as("sum_qty_c"),
          sum(floor($"l_extendedprice" * 100)).as("sum_base_c"),
          sum(floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100))
            .as("sum_disc_c"),
          min($"l_extendedprice").as("min_price"),
          max($"l_extendedprice").as("max_price"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // P8/P9-style predicate filter + projection; pushdown-friendly
    "q02_filter_project" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter(
          $"l_shipdate" >= to_timestamp(lit("1996-01-01")) &&
          $"l_shipdate" < to_timestamp(lit("1997-01-01")) &&
          $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_discount")
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // A2 global aggregate (TPC-H Q6 shape)
    "q03_agg_global" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter(
          $"l_shipdate" >= to_timestamp(lit("1996-01-01")) &&
          $"l_shipdate" < to_timestamp(lit("1997-01-01")) &&
          $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
        .agg(
          sum(floor($"l_extendedprice" * $"l_discount" * 100)).as("revenue_c"),
          count(lit(1)).as("n"))
    }),

    // Broadcast join chain: fact → dims (customer→nation→region)
    "q04_join_nation_revenue" -> ((s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      o.join(c, $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(
          sum(floor($"o_totalprice" * 100)).as("rev_c"),
          count(lit(1)).as("n_orders"))
        .orderBy($"r_name", $"n_name")
    }),

    // Big-big join (sort-merge territory) + distinct agg
    "q05_join_lineitem_orders" -> ((s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum(floor($"l_quantity")).as("qty"))
        .orderBy($"o_orderpriority")
    }),

    // Left-semi join = EXISTS
    "q06_semi_join" -> ((s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d)
      val bigOrders = Tables.orders(s, d).filter($"o_totalprice" > Threshold)
      c.join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
        .limit(100)
    }),

    // Left-anti join = NOT EXISTS (customers with no high-value order)
    "q07_anti_join" -> ((s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d)
      val big = Tables.orders(s, d).filter($"o_totalprice" > Threshold)
      c.join(big, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_mktsegment")
        .orderBy($"c_custkey")
        .limit(100)
    }),

    // T1+T2 top-k → TakeOrderedAndProject (no full sort at scale)
    "q08_topk_orders" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(10)
    }),

    // Analytic window: top-2 orders per customer (extended surface,
    // SURVEY.md §2.5)
    "q09_window_rank" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2)
        .select($"o_custkey", $"rn", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_custkey", $"rn")
    }),

    // J4 distinct rows (reference scripts/preprocess_cicids2017.py:146-149)
    "q10_distinct_flags" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_returnflag", $"l_linestatus")
        .distinct()
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // J1 union-by-name (reference scripts/preprocess_cicids2017.py:246)
    "q11_union_priority" -> ((s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
      val high = o.filter($"o_totalprice" > Threshold).select($"o_orderpriority")
      val fin = o.filter($"o_orderstatus" === "F").select($"o_orderpriority")
      high.unionByName(fin)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    }),

    // Extended: rollup grouping sets (SURVEY.md §2.4 note)
    "q12_rollup" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), sum(floor($"l_quantity")).as("qty"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    }),

    // A3 single-pass conditional-count audit: one job, not one count()
    // per column (reference loops 79 count() actions,
    // scripts/preprocess_cicids2017.py:152-162)
    "q13_audit_counts" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).agg(
        sum(when($"l_discount" === 0, 1).otherwise(0)).as("zero_discount"),
        sum(when($"l_tax" > 0.05, 1).otherwise(0)).as("high_tax"),
        sum(when($"l_quantity" >= 50, 1).otherwise(0)).as("big_qty"),
        sum(when($"l_returnflag" === "R", 1).otherwise(0)).as("returned"),
        count(lit(1)).as("total"))
    }),

    // A13 binned histogram (dashboard confidence histogram,
    // reference scripts/streamlit_dashboard.py:169-178)
    "q14_histogram" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"event_type", floor($"value" / 10).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"event_type", $"bucket")
    }),

    // A14 quantiles (dashboard box plot,
    // reference scripts/streamlit_dashboard.py:204-214); exact
    // percentile so the DuckDB quantile_cont oracle matches. Computed
    // via Quantiles.exactGrouped (approx-bracket + exact rank lookup,
    // bit-identical to built-in `percentile`): the built-in's final
    // merge holds a whole group's multiset in one task — with 3 groups
    // that's the low-cardinality scale-killer (and 3.5s of the sf0.1
    // bench); the bracketed plan is two partial-aggregable scans.
    "q15_quantiles" -> ((s, d) => {
      import s.implicits._
      Quantiles.exactGrouped(Tables.lineitem(s, d), "l_returnflag",
          "l_extendedprice", Seq(0.25, 0.5, 0.75),
          Seq("p25", "p50", "p75"))
        .select($"l_returnflag", round($"p25", 4).as("p25"),
          round($"p50", 4).as("p50"), round($"p75", 4).as("p75"))
        .orderBy($"l_returnflag")
    }),

    // A4+A5 z-score with zero-std guard (reference
    // scripts/preprocess_cicids2017.py:279-298). Scale-safe formulation:
    // per-type scalars via groupBy (partial aggregation, no skew), then a
    // broadcast join back — NOT Window.partitionBy(event_type), which at
    // scale puts every row of a low-cardinality type into one task's sort
    // buffer. Same math, same oracle hash, no window exchange.
    "q16_zscore" -> ((s, d) => {
      import s.implicits._
      // Per-type stats from EXACT integer micro-unit sums (bigint +
      // decimal), so the grouped aggregation is order-independent and
      // the oracle hash cannot flake on float summation order; the
      // mean/std come out of a fixed sequence of double ops mirrored
      // verbatim in the DuckDB SQL.
      val vc = floor($"value" * 1000000.0)
      val stats0 = Tables.events(s, d)
        .groupBy($"event_type")
        .agg(
          sum(vc).as("s1"),
          sum(vc.cast(org.apache.spark.sql.types.DecimalType(38, 0)) * vc)
            .as("s2"),
          count($"value").as("n"))
      val meanC = $"s1".cast("double") / $"n"
      val sqC = $"s2".cast("double") / $"n"
      val stats = stats0.select(
        $"event_type",
        (meanC / 1000000.0).as("m_"),
        (sqrt(greatest(sqC - meanC * meanC, lit(0.0))) / 1000000.0)
          .as("sd_"))
      val guard = when($"sd_" === 0 || $"sd_".isNull, 1.0).otherwise($"sd_")
      Tables.events(s, d)
        .join(broadcast(stats), "event_type")
        .select(
          $"event_id", $"event_type",
          round(($"value" - $"m_") / guard, 4).as("zscore"))
        .orderBy($"event_id")
    }),

    // F1 label-mapper truth table (reference
    // scripts/preprocess_cicids2017.py:38-63) over an inline relation —
    // exercises every CASE branch deterministically
    "q17_label_map" -> ((s, _) => {
      import s.implicits._
      val raws: Seq[String] = Seq(
        "BENIGN", " Benign ", "DDoS", "DoS Hulk", "DoS GoldenEye",
        "DoS slowloris", "DoS Slowhttptest", "PortScan", "Port Scan",
        "Bot", "FTP-Patator", "SSH-Patator", "Brute Force",
        "Web Attack XSS", "SQL Injection", "Infiltration", "Heartbleed",
        null)
      raws.toDF("label_raw")
        .select($"label_raw", Labels.mapLabel($"label_raw").as("label_class"))
        .orderBy($"label_raw".asc_nulls_first)
    }),

    // F8 JSON extraction (reference parses JSON on every Kafka hop,
    // scripts/stream_anomaly_detector.py:414-416)
    "q18_json_extract" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select(
          get_json_object($"props", "$.k").cast("int").as("k"),
          $"value")
        .groupBy(($"k" % 10).as("k_mod"))
        .agg(
          count(lit(1)).as("n"),
          min($"value").as("min_value"),
          max($"value").as("max_value"))
        .orderBy($"k_mod".asc_nulls_first)
    }),

    // A12 tumbling time window (dashboard 5s buckets scaled to 5min,
    // reference scripts/streamlit_dashboard.py:152-153)
    "q19_time_window" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy(
          (floor(unix_timestamp($"ts") / 300) * 300).as("bucket_start"),
          $"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(floor($"value" * 100)).as("value_c"))
        .orderBy($"bucket_start", $"event_type")
    }),

    // Salted equi-join (skew mitigation): output must equal the plain
    // join — the oracle checks exactly that. The big side carries only
    // (key, salt); the replicated dim stays slim.
    "q40_salted_join" -> ((s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_quantity")
      val o = Tables.orders(s, d).select($"o_orderkey", $"o_orderpriority")
      Skew.saltedJoin(li, o, "l_orderkey", "o_orderkey", salts = 8)
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          sum(floor($"l_quantity")).as("qty"))
        .orderBy($"o_orderpriority")
    }),

    // As-of join: for each purchase event, the user's latest
    // click at-or-before it (DuckDB mirrors with native ASOF JOIN).
    // Right side deduped at (user_id, ts) so the match is deterministic.
    "q43_asof_join" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val clicks = ev.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts")
        .agg(max($"value").as("click_value"))
      AsOf.join(purchases, clicks, Seq("user_id"), "ts", "ts")
        .select($"event_id", $"user_id",
          unix_timestamp($"asof_ts").as("asof_s"),
          floor($"asof_click_value" * 100).as("click_c"))
        .orderBy($"event_id")
    }),

    // Bucketed range join: views falling inside each user's first hour
    // after signup — the oracle states the same thing as a plain
    // inequality join, the Spark plan is the bucketed equi-join.
    "q44_range_join" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val views = ev.filter($"event_type" === "view")
        .select($"user_id", $"ts")
      val sessions = ev.filter($"event_type" === "signup")
        .select($"user_id", $"ts".as("start_ts"),
          ($"ts" + expr("INTERVAL 1 HOUR")).as("end_ts"))
      RangeJoin.bucketed(views, sessions, Seq("user_id"),
          "ts", "start_ts", "end_ts")
        .groupBy($"user_id", unix_timestamp($"start_ts").as("start_s"))
        .agg(count(lit(1)).as("n_views"))
        .orderBy($"user_id", $"start_s")
    }),

    // P7+P5 value replacement → null → fill (reference
    // scripts/preprocess_cicids2017.py:152-162 + stream_anomaly_detector.py:191)
    "q20_replace_fill" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select(
          $"event_id",
          when($"value" > 450.0 || $"value" < 0.0, lit(null))
            .otherwise($"value").as("clean_value"))
        .na.fill(0.0, Seq("clean_value"))
        .orderBy($"event_id")
    }),

    // Full grouping-sets lattice over the rollup's (q12) dimensions —
    // Dataset.cube; DuckDB mirrors with GROUP BY CUBE
    "q48_cube" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .cube($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), sum(floor($"l_quantity")).as("qty"))
        .orderBy($"l_returnflag".asc_nulls_first,
          $"l_linestatus".asc_nulls_first)
    }),

    // Pivot with explicit value list (stays a single hash-aggregate:
    // pivot values become conditional aggregates, no extra shuffle) —
    // DuckDB mirrors with SUM(CASE WHEN ...) conditional aggregation
    "q49_pivot" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(floor($"l_quantity")))
        .orderBy($"l_returnflag")
    }),

    // Sliding-frame window analytics: per-user 3-row moving sum + lag,
    // ordered (ts, event_id) for tie-proof determinism. Both functions
    // share one (partition, order) spec → one exchange + one sort.
    "q50_moving_window" -> ((s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, d)
        .select($"event_id", $"user_id", $"ts",
          floor($"value" * 100).as("vc"))
        .select($"event_id", $"user_id",
          sum($"vc").over(w.rowsBetween(-2, 0)).as("mov_sum_c"),
          lag($"vc", 1).over(w).as("prev_c"))
        .orderBy($"event_id")
    }),

    // Gap-based sessionization (30 min) + per-session aggregates
    "q51_sessionize" -> ((s, d) => {
      import s.implicits._
      Sessionize.assign(
          Tables.events(s, d).select($"user_id", $"ts", $"event_id"),
          "user_id", "ts", gapSec = 1800L, tieCols = Seq("event_id"))
        .groupBy($"user_id", $"session_id")
        .agg(count(lit(1)).as("n_events"),
          min(unix_timestamp($"ts")).as("start_s"),
          max(unix_timestamp($"ts")).as("end_s"))
        .orderBy($"user_id", $"session_id")
    }),

    // Native session_window (the built-in gap-session operator, merge
    // semantics: a gap >= 30 min starts a new session; window.end =
    // last event + gap) — cross-validated against the same ground
    // truth the hand-rolled Sessionize (q51) mirrors
    "q53_session_window" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id",
          unix_timestamp($"w.start").as("start_s"),
          unix_timestamp($"w.end").as("end_s"),
          $"n_events")
        .orderBy($"user_id", $"start_s")
    }),

    // Winsorize (quantile clipping): clamp values to the [p1, p99]
    // band. Boundaries are RANK-based — the ceil(q·n)-th smallest
    // actual data value, not an interpolated quantile — so both
    // engines pick bit-identical doubles and the per-row output stays
    // hash-exact (interpolated percentiles differ at ulp level across
    // engines; see q15's round-4 handling). Boundary lookup is two
    // top-k jobs; at corpus scale swap in approxQuantile.
    "q58_winsorize" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val vals = ev.filter($"value".isNotNull)
      val n = vals.count()
      // k-th smallest via whichever END of the ordering is nearer, so
      // both boundary lookups are small top-k jobs (a limit of ~0.99·n
      // would funnel 99% of the table through one task)
      def kth(k: Long): Double =
        if (k * 2 <= n)
          vals.select($"value").orderBy($"value".asc).limit(k.toInt)
            .agg(max($"value")).head.getDouble(0)
        else
          vals.select($"value").orderBy($"value".desc)
            .limit((n - k + 1).toInt)
            .agg(min($"value")).head.getDouble(0)
      val pLo = kth(math.ceil(0.01 * n).toLong)
      val pHi = kth(math.ceil(0.99 * n).toLong)
      ev.select($"event_id",
        when($"value" < pLo, pLo).when($"value" > pHi, pHi)
          .otherwise($"value").as("v_clip"))
        .orderBy($"event_id")
    }),

    // Top-k per key as a bounded partial aggregate (map-side combine
    // ships ≤ k rows per key per task) — same answer as the window-rank
    // form q09, certified by sharing its oracle SQL. High-cardinality
    // key (~15k custkeys/task map-side at sf0.1) × bounded buffer →
    // built through the scoped fallback-threshold session so the hash
    // combine never degenerates into a per-task sort (and the raise
    // never reaches unbounded collect-style aggregates — r14 ADVICE).
    "q54_topk_agg" -> ((s0, d) => {
      val s = graft.core.Sessions.boundedAggTopKSession(s0)
      import s.implicits._
      TopK.perKey(Tables.orders(s, d)
            .select($"o_custkey", $"o_totalprice", $"o_orderkey"),
          "o_custkey", "o_totalprice", "o_orderkey", k = 2)
        .select($"o_custkey", $"rn", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_custkey", $"rn")
    }),

    // Deterministic per-group sampling: keep the 100 events per type
    // with the smallest md5-hash rank — a seeded, engine-independent
    // uniform sample (hash order is uncorrelated with any data order).
    // Routed through the bounded top-k aggregate, NOT a window rank:
    // each task ships <= 100 candidates per type through the shuffle,
    // so a hot event type cannot skew a sort buffer. The 52-bit hash
    // prefix is exact in a double, so the aggregate's numeric ordering
    // is precisely the hex-string ordering the DuckDB oracle uses.
    "q70_group_sample" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).select($"event_type", $"event_id",
        (-conv(substring(md5($"event_id".cast("string")), 1, 13), 16, 10)
          .cast("double")).as("__ord"))
      TopK.perKey(ev, "event_type", "__ord", "event_id", k = 100)
        .select($"event_type", $"rn", $"event_id")
        .orderBy($"event_type", $"rn")
    }),

    // Fuzzy (edit-distance) dedup over part names: exact-dedup the
    // name space first, then the blocked levenshtein join
    "q52_editdist" -> ((s, d) => {
      import s.implicits._
      val names = Tables.part(s, d)
        .groupBy($"p_name").agg(min($"p_partkey").as("id"))
      Dedup.editDistanceNearDup(names.select($"id", $"p_name"),
          "id", "p_name", maxDist = 3, maxLenDiff = 1)
        .orderBy($"id_a", $"id_b")
    }),

    // Co-located fact⋈fact join via bucketed tables: both sides are
    // bucket-written on orderkey ONCE PER SESSION (memoized — paying
    // the partitioning shuffle once is the operator's entire point, and
    // repeated bench iterations should time the exchange-free join,
    // not re-bucketing), then the join AND the per-order aggregate run
    // with zero exchanges (BucketedSpec pins the plan). Catalog names
    // are per-setup unique so concurrent harness runs never race on a
    // shared table name. The orderBy here is presentation-only for the
    // oracle compare; the operator's plan is exchange-free up to it.
    "q85_bucketed_join" -> ((s, d) => {
      import s.implicits._
      val (tOrders, tLineitem) = bucketedSetup(s, d)
      Bucketed.colocatedJoin(s, tOrders, tLineitem,
          "o_orderkey", "l_orderkey")
        .groupBy($"o_orderkey", $"o_orderstatus")
        .agg(
          count(lit(1)).as("n_items"),
          sum(floor($"l_quantity" * 100)).as("qty_c"),
          sum(floor($"l_extendedprice" * 100)).as("price_c"))
        .orderBy($"o_orderkey")
    }),

    // Z-order layout round trip: events rewritten on the (user_id,
    // value) Morton curve, read back through a rectangle predicate on
    // BOTH columns — the multi-dim file-skipping layout (LayoutSpec
    // pins the concentration property; the oracle certifies the
    // rewrite loses/changes no rows). Cuts derive from the data bounds
    // with the same integer/double arithmetic the SQL twin uses.
    "q87_zorder_scan" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).select($"event_id", $"user_id", $"value")
      // rewrite once per session (memoized): repeated invocations time
      // the rectangle SCAN against the settled layout — the operator's
      // serving shape — and don't stack one temp dir per iteration
      val zdir = zorderSetup(s, d, ev)
      val back = s.read.parquet(zdir)
      val b = ev.agg(min($"user_id"), max($"user_id"),
        min($"value"), max($"value")).head()
      val uCut = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 4
      val vCut = b.getDouble(2) + (b.getDouble(3) - b.getDouble(2)) / 4.0
      back.filter($"user_id" <= uCut && $"value" <= vCut)
        .orderBy($"event_id")
    })
  )

  /** Once-per-(session, sfDir) setups for the layout queries. q85/q87
    * are registry queries the harness may run repeatedly (bench
    * min-of-n) or concurrently; the settle-time writes they depend on
    * are side effects, so they are (a) memoized per session through
    * [[Corpus.sessionMemo]] — re-invocation reuses the artifact instead
    * of re-paying the write — and (b) uniquely named, so two sessions
    * in one JVM (or two harnesses on one catalog) can never race on a
    * shared table name or path. */
  private val setupSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def bucketedSetup(s: SparkSession, d: String): (String, String) =
    Corpus.sessionMemo(s, d, "bucketed") {
      import s.implicits._
      val tag = s"${setupSeq.incrementAndGet()}_" +
        java.util.UUID.randomUUID().toString.take(8)
      val dir = java.nio.file.Files.createTempDirectory("graft_bucketed")
      dir.toFile.deleteOnExit()
      val (tOrders, tLineitem) =
        (s"graft_b_orders_$tag", s"graft_b_lineitem_$tag")
      Bucketed.writeBucketed(s, Tables.orders(s, d), tOrders,
        s"$dir/orders", "o_orderkey", buckets = 8)
      Bucketed.writeBucketed(s, Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_quantity", $"l_extendedprice"),
        tLineitem, s"$dir/lineitem", "l_orderkey", buckets = 8)
      (tOrders, tLineitem)
    }

  private def zorderSetup(s: SparkSession, d: String,
                          ev: DataFrame): String =
    Corpus.sessionMemo(s, d, "zorder") {
      val dir = java.nio.file.Files.createTempDirectory("graft_zorder")
      dir.toFile.deleteOnExit()
      graft.sources.Layout.writeZOrdered(
        ev, s"$dir/z", "user_id", "value", numFiles = 16)
      s"$dir/z"
    }

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(FLOOR(l_quantity*100)) AS BIGINT) AS sum_qty_c,
        | CAST(SUM(FLOOR(l_extendedprice*100)) AS BIGINT) AS sum_base_c,
        | CAST(SUM(FLOOR(l_extendedprice*(1-l_discount)*100)) AS BIGINT) AS sum_disc_c,
        | MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_agg_global" ->
      """SELECT CAST(SUM(FLOOR(l_extendedprice*l_discount*100)) AS BIGINT) AS revenue_c,
        | COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q04_join_nation_revenue" ->
      """SELECT r_name, n_name,
        | CAST(SUM(FLOOR(o_totalprice*100)) AS BIGINT) AS rev_c,
        | COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q05_join_lineitem_orders" ->
      """SELECT o_orderpriority,
        | COUNT(*) AS n_items,
        | COUNT(DISTINCT l_orderkey) AS n_orders,
        | CAST(SUM(FLOOR(l_quantity)) AS BIGINT) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q06_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey LIMIT 100""".stripMargin,
    "q07_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey LIMIT 100""".stripMargin,
    "q08_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q09_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t
        |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
    "q10_distinct_flags" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY 1, 2""".stripMargin,
    "q11_union_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM (
        | SELECT o_orderpriority FROM orders WHERE o_totalprice > 400000.0
        | UNION ALL
        | SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F') t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(SUM(FLOOR(l_quantity)) AS BIGINT) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q13_audit_counts" ->
      """SELECT
        | CAST(SUM(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_discount,
        | CAST(SUM(CASE WHEN l_tax > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS high_tax,
        | CAST(SUM(CASE WHEN l_quantity >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS big_qty,
        | CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned,
        | COUNT(*) AS total
        |FROM lineitem""".stripMargin,
    "q14_histogram" ->
      """SELECT event_type, CAST(FLOOR(value/10) AS BIGINT) AS bucket,
        | COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q15_quantiles" ->
      """SELECT l_returnflag,
        | ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        | ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q16_zscore" ->
      """WITH s0 AS (
        |  SELECT event_type,
        |   CAST(SUM(vc) AS DOUBLE)/COUNT(vc) AS mean_c,
        |   CAST(SUM(CAST(vc AS HUGEINT)*vc) AS DOUBLE)/COUNT(vc) AS sq_c
        |  FROM (SELECT event_type,
        |          CAST(FLOOR(value*1000000.0) AS BIGINT) AS vc
        |        FROM events) t
        |  GROUP BY event_type),
        |s AS (
        |  SELECT event_type, mean_c/1000000.0 AS m_,
        |   sqrt(GREATEST(sq_c - mean_c*mean_c, 0))/1000000.0 AS sd_
        |  FROM s0)
        |SELECT e.event_id, e.event_type,
        | ROUND((e.value - s.m_) /
        |   (CASE WHEN s.sd_ = 0 OR s.sd_ IS NULL THEN 1.0 ELSE s.sd_ END),
        |   4) AS zscore
        |FROM events e JOIN s USING (event_type)
        |ORDER BY e.event_id""".stripMargin,
    "q17_label_map" -> {
      val vals = Seq(
        "'BENIGN'", "' Benign '", "'DDoS'", "'DoS Hulk'", "'DoS GoldenEye'",
        "'DoS slowloris'", "'DoS Slowhttptest'", "'PortScan'", "'Port Scan'",
        "'Bot'", "'FTP-Patator'", "'SSH-Patator'", "'Brute Force'",
        "'Web Attack XSS'", "'SQL Injection'", "'Infiltration'",
        "'Heartbleed'", "CAST(NULL AS VARCHAR)")
        .map(v => s"($v)").mkString(", ")
      s"""SELECT label_raw, ${Labels.mapLabelSql("label_raw")} AS label_class
         |FROM (VALUES $vals) AS t(label_raw)
         |ORDER BY label_raw NULLS FIRST""".stripMargin
    },
    "q18_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
        | COUNT(*) AS n, MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin,
    "q19_time_window" ->
      """SELECT CAST(FLOOR(epoch(ts)/300)*300 AS BIGINT) AS bucket_start,
        | event_type, COUNT(*) AS n,
        | CAST(SUM(FLOOR(value*100)) AS BIGINT) AS value_c
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q43_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, MAX(value) AS click_value FROM events
        |      WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id,
        | CAST(FLOOR(epoch(c.ts)) AS BIGINT) AS asof_s,
        | CAST(FLOOR(c.click_value * 100) AS BIGINT) AS click_c
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "q44_range_join" ->
      """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        |s AS (SELECT user_id, ts AS start_ts,
        |        ts + INTERVAL 1 HOUR AS end_ts
        |      FROM events WHERE event_type = 'signup')
        |SELECT v.user_id,
        | CAST(FLOOR(epoch(s.start_ts)) AS BIGINT) AS start_s,
        | COUNT(*) AS n_views
        |FROM v JOIN s
        |  ON v.user_id = s.user_id
        | AND v.ts >= s.start_ts AND v.ts < s.end_ts
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q40_salted_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        | CAST(SUM(FLOOR(l_quantity)) AS BIGINT) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q20_replace_fill" ->
      """SELECT event_id,
        | COALESCE(CASE WHEN value > 450.0 OR value < 0.0 THEN NULL
        |               ELSE value END, 0.0) AS clean_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q48_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(SUM(FLOOR(l_quantity)) AS BIGINT) AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q49_pivot" ->
      """SELECT l_returnflag,
        | CAST(SUM(CASE WHEN l_linestatus = 'F'
        |               THEN FLOOR(l_quantity) END) AS BIGINT) AS F,
        | CAST(SUM(CASE WHEN l_linestatus = 'O'
        |               THEN FLOOR(l_quantity) END) AS BIGINT) AS O
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q50_moving_window" ->
      """WITH e AS (SELECT event_id, user_id, ts,
        |             CAST(FLOOR(value*100) AS BIGINT) AS vc FROM events)
        |SELECT event_id, user_id,
        | CAST(SUM(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS mov_sum_c,
        | LAG(vc, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS prev_c
        |FROM e ORDER BY event_id""".stripMargin,
    "q51_sessionize" ->
      """WITH e AS (SELECT user_id, ts, event_id, epoch_us(ts) AS us
        |           FROM events),
        |f AS (SELECT user_id, ts, event_id,
        |        CASE WHEN LAG(us) OVER w IS NULL
        |               OR us - LAG(us) OVER w > 1800000000
        |             THEN 1 ELSE 0 END AS nw
        |      FROM e WINDOW w AS (PARTITION BY user_id
        |                          ORDER BY ts, event_id)),
        |g AS (SELECT user_id, ts,
        |        CAST(SUM(nw) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS session_id
        |      FROM f)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        | CAST(MIN(FLOOR(epoch(ts))) AS BIGINT) AS start_s,
        | CAST(MAX(FLOOR(epoch(ts))) AS BIGINT) AS end_s
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q58_winsorize" ->
      """WITH n AS (SELECT COUNT(*) AS c FROM events WHERE value IS NOT NULL),
        |lo AS (SELECT MAX(value) AS plo FROM (
        |  SELECT value FROM events WHERE value IS NOT NULL ORDER BY value
        |  LIMIT (SELECT CAST(CEIL(CAST(0.01 AS DOUBLE) * c) AS BIGINT) FROM n))),
        |hi AS (SELECT MAX(value) AS phi FROM (
        |  SELECT value FROM events WHERE value IS NOT NULL ORDER BY value
        |  LIMIT (SELECT CAST(CEIL(CAST(0.99 AS DOUBLE) * c) AS BIGINT) FROM n)))
        |SELECT event_id,
        | CASE WHEN value < plo THEN plo WHEN value > phi THEN phi
        |      ELSE value END AS v_clip
        |FROM events, lo, hi ORDER BY event_id""".stripMargin,
    "q54_topk_agg" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t
        |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
    "q53_session_window" ->
      """WITH e AS (SELECT user_id, ts, event_id, epoch_us(ts) AS us
        |           FROM events),
        |f AS (SELECT user_id, us, event_id,
        |        CASE WHEN LAG(us) OVER w IS NULL
        |               OR us - LAG(us) OVER w >= 1800000000
        |             THEN 1 ELSE 0 END AS nw
        |      FROM e WINDOW w AS (PARTITION BY user_id
        |                          ORDER BY ts, event_id)),
        |g AS (SELECT user_id, us,
        |        SUM(nw) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS sid
        |      FROM f)
        |SELECT user_id,
        | CAST(MIN(us) // 1000000 AS BIGINT) AS start_s,
        | CAST(MAX(us) // 1000000 + 1800 AS BIGINT) AS end_s,
        | COUNT(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, start_s""".stripMargin,
    "q70_group_sample" ->
      """SELECT event_type, rn, event_id FROM (
        | SELECT event_type, event_id,
        |  ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY substr(md5(CAST(event_id AS VARCHAR)), 1, 13),
        |             event_id) AS rn
        | FROM events) t
        |WHERE rn <= 100 ORDER BY event_type, rn""".stripMargin,
    "q52_editdist" ->
      """WITH names AS (SELECT MIN(p_partkey) AS id, p_name AS nm
        |               FROM part GROUP BY p_name),
        |p AS (SELECT id, nm, split_part(nm, ' ', 1) AS blk FROM names)
        |SELECT a.id AS id_a, b.id AS id_b,
        | a.nm AS name_a, b.nm AS name_b,
        | levenshtein(a.nm, b.nm) AS dist
        |FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
        | AND abs(length(a.nm) - length(b.nm)) <= 1
        |WHERE levenshtein(a.nm, b.nm) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // the bucketed layout changes the plan, not the answer — the oracle
    // is the plain join
    "q85_bucketed_join" ->
      """SELECT o_orderkey, o_orderstatus, COUNT(*) AS n_items,
        | CAST(SUM(FLOOR(l_quantity*100)) AS BIGINT) AS qty_c,
        | CAST(SUM(FLOOR(l_extendedprice*100)) AS BIGINT) AS price_c
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2 ORDER BY o_orderkey""".stripMargin,
    // the z-order rewrite changes the LAYOUT, not the rows — the oracle
    // is the plain rectangle filter with the same bound arithmetic
    // (integer // for the id cut, double for the value cut)
    "q87_zorder_scan" ->
      """WITH b AS (SELECT MIN(user_id) AS ulo, MAX(user_id) AS uhi,
        |                  MIN(value) AS vlo, MAX(value) AS vhi
        |           FROM events)
        |SELECT event_id, user_id, value
        |FROM events CROSS JOIN b
        |WHERE user_id <= ulo + (uhi - ulo) // 4
        |  AND value <= vlo + (vhi - vlo) / 4.0
        |ORDER BY event_id""".stripMargin
  )
}
