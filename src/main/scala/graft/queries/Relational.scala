package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface (SURVEY.md §2.1-§2.4, §2.6-§2.8): scans,
  * filters/projections, the full join family (broadcast equi, theta/band,
  * semi, anti, outer+coalesce), aggregation families, set ops, sorts/top-k
  * and the scalar function kernel — each as one oracle-checked query over
  * the driver's star schema.
  *
  * Scale notes (100 TB stance): dimension sides (`region`, `nation`,
  * `supplier`, `part`) are explicitly `broadcast()`; fact-fact joins key on
  * the natural shuffle key (`l_orderkey`); aggregates are partial-agg
  * friendly (plain `groupBy.agg` → map-side combine); no collects, no UDFs
  * — every expression is Catalyst-codegen'd.
  */
object Relational {

  /** Cast a double column to an exact decimal at the data's intended scale
    * (2 for money/value columns, 4 for 2dp*2dp products). The scale must be
    * small enough that the group's unscaled sum stays below 2^53: then both
    * Spark (BigDecimal.doubleValue) and DuckDB (int/10^k in double) convert
    * the final decimal to the same, correctly-rounded double. At scale 10
    * DuckDB's int128/1e10 division is off by 1 ulp — measured, not
    * theoretical. */
  private def dec(c: Column, scale: Int = 2): Column = c.cast(s"decimal(28,$scale)")
  /** Exact, order-independent sum of a double column: decimal-accumulate,
    * emit double. Matches `CAST(SUM(CAST(x AS DECIMAL(28,s))) AS DOUBLE)`. */
  private def dsum(c: Column, scale: Int = 2): Column = sum(dec(c, scale)).cast("double")

  /** All ordered pairs (x < y) of a SORTED, DISTINCT array, as structs —
    * the map-side replacement for a basket self-join (r11, guide §2.3
    * "aggregate before you shuffle"): a basket of n items explodes to
    * C(n,2) pairs inside the scan task, so the only shuffle left is the
    * partial-aggregated pair-count roll-up. Equivalent to the
    * `a JOIN b ON a.key = b.key AND a.it < b.it` self-join because the
    * array is the basket's distinct item set in ascending order. */
  private def pairCombos(items: Column): Column =
    flatten(transform(items, (x, i) =>
      transform(slice(items, i + lit(2), size(items) - i - lit(1)),
        y => struct(x.as("x"), y.as("y")))))

  /** All ordered triples (x < y < z) of a sorted, distinct array — the
    * 3-way basket self-join, same discipline as [[pairCombos]]. */
  private def tripleCombos(items: Column): Column =
    flatten(transform(items, (x, i) =>
      flatten(transform(slice(items, i + lit(2), size(items) - i - lit(1)), (y, j) =>
        transform(slice(items, i + j + lit(3), size(items) - i - j - lit(2)),
          z => struct(x.as("x"), y.as("y"), z.as("z")))))))

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1 shape: filter → groupBy → multi-aggregate (A2/A7, F-date,
    * C9). Reference analog: per-period/per-game min-max-sum roll-ups
    * (`/root/reference/src/queries/game.py:35-40`). */
  val q01PricingSummary: Q = Q.sql(
    "q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }

  // ---------------------------------------------------------------- q02
  /** Pushdown-friendly filter + projection with computed column (F1-F9,
    * reference `/root/reference/src/managers/game.py:73-118`). The
    * predicate and the 4-column read schema reach the parquet scan. */
  val q02FilterProject: Q = Q.sql(
    "q02_filter_project",
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |  l_extendedprice * (1.0 - l_discount) AS revenue
      |FROM lineitem
      |WHERE l_returnflag = 'R' AND l_quantity >= 30.0""".stripMargin) { (s, dir) =>
    Tables(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R" && col("l_quantity") >= 30.0)
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
  }

  // ---------------------------------------------------------------- q03
  /** Broadcast dimension-chain join (J1/J2, reference
    * `/root/reference/src/queries/season.py:12-13`): region⋈nation⋈customer
    * ⋈orders. Dims broadcast; the only shuffle is the final groupBy. */
  val q03RegionRevenue: Q = Q.sql(
    "q03_region_revenue",
    """SELECT r_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_revenue,
      |  COUNT(*) AS n_orders
      |FROM region
      |JOIN nation ON n_regionkey = r_regionkey
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |GROUP BY r_name""".stripMargin) { (s, dir) =>
    val region = Tables(s, dir, "region")
    val nation = Tables(s, dir, "nation")
    val customer = Tables(s, dir, "customer")
    val orders = Tables(s, dir, "orders")
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy("r_name")
      .agg(
        dsum(col("o_totalprice")).as("total_revenue"),
        count(lit(1)).as("n_orders"))
  }

  // ---------------------------------------------------------------- q04
  /** The as-of attribution join (J5) in its scalable union+window form:
    * every purchase is attributed to the user's latest click at-or-before
    * it — exactly the reference's event→live-stint attribution
    * (`/root/reference/src/queries/game.py:233-235` and 8 siblings). */
  val q04AsOfAttribution: Q = Q.sql(
    "q04_asof_attribution",
    """WITH u AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |    CASE WHEN event_type = 'click' THEN event_id END AS c_id,
      |    CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END AS c_ts
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), f AS (
      |  SELECT event_id, user_id, event_type, ts,
      |    LAST_VALUE(c_id IGNORE NULLS) OVER w AS click_id,
      |    LAST_VALUE(c_ts IGNORE NULLS) OVER w AS click_ts
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id
      |    ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT event_id, user_id, click_id,
      |  epoch_us(ts) - epoch_us(click_ts) AS gap_us
      |FROM f WHERE event_type = 'purchase'""".stripMargin) { (s, dir) =>
    val ev = Tables(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
    graft.ops.AsOf
      .join(purchases, clicks, Seq("user_id"), "ts", "ts",
        payload = Seq("click_id", "click_ts"), tieBreak = Seq("click_id"))
      .select(col("event_id"), col("user_id"), col("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
  }

  // ---------------------------------------------------------------- q05
  /** Gap-and-island sessionization (W3, the PlayerStint pattern,
    * `/root/reference/src/queries/game.py:144-168`): 30-minute-gap user
    * sessions with per-session roll-ups. */
  val q05Sessionize: Q = Q.sql(
    "q05_sessionize",
    """WITH flagged AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts, value,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  COUNT(*) AS n_events,
      |  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
      |  CAST(MAX(ts) AS TIMESTAMP) AS session_end,
      |  CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS session_value
      |FROM sess GROUP BY user_id, session_id""".stripMargin) { (s, dir) =>
    graft.ops.Sessionize(
        Tables(s, dir, "events"), Seq("user_id"), "ts",
        gapMicros = 30L * 60 * 1000000, tieBreak = Seq("event_id"))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        // NTZ output: DuckDB's TIMESTAMP is naive, and a tz-aware parquet
        // column would only compare equal through a DuckDB-side read —
        // emit the same flavor the oracle produces (session TZ is UTC, so
        // the wall-time values are unchanged)
        min(col("ts")).cast("timestamp_ntz").as("session_start"),
        max(col("ts")).cast("timestamp_ntz").as("session_end"),
        dsum(col("value")).as("session_value"))
  }

  // ---------------------------------------------------------------- q06
  /** NEXT-chain via lead (W1/W2, reference `season.py:19-27`,
    * `game.py:744-769`): successor event and gap per user timeline. */
  val q06NextChain: Q = Q.sql(
    "q06_next_chain",
    """SELECT event_id, user_id,
      |  LEAD(event_id) OVER w AS next_event_id,
      |  epoch_us(CAST(LEAD(ts) OVER w AS TIMESTAMP)) - epoch_us(CAST(ts AS TIMESTAMP)) AS gap_us
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events").select(
      col("event_id"), col("user_id"),
      lead(col("event_id"), 1).over(w).as("next_event_id"),
      (unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts"))).as("gap_us"))
  }

  // ---------------------------------------------------------------- q07
  /** Running totals with partition reset (W7/A6 — the reference's running
    * score fold with per-period reset, `game.py:641-707`): global running
    * value per user, plus a per-day running value that resets at day
    * boundaries, replacing the reference's explicit reset logic. */
  val q07RunningTotals: Q = Q.sql(
    "q07_running_totals",
    """SELECT event_id, user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
      |  CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER (
      |    PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS day_value
      |FROM events""".stripMargin) { (s, dir) =>
    val wAll = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDay = Window.partitionBy(col("user_id"), col("ts").cast("date"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "events").select(
      col("event_id"), col("user_id"),
      sum(dec(col("value"))).over(wAll).cast("double").as("running_value"),
      sum(dec(col("value"))).over(wDay).cast("double").as("day_value"))
  }

  // ---------------------------------------------------------------- q08
  /** Per-group top-k (O3/A11/W5: `ORDER BY … LIMIT 1` per rebound,
    * `game.py:506-513`): top-3 orders per customer, deterministic
    * tie-break. */
  val q08TopKPerGroup: Q = Q.sql(
    "q08_topk_per_group",
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3)
  }

  // ---------------------------------------------------------------- q09
  /** Semi-join (J12, `EXISTS` at `game.py:786`). */
  val q09SemiJoin: Q = Q.sql(
    "q09_semi_join",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin) { (s, dir) =>
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name")
  }

  // ---------------------------------------------------------------- q10
  /** Anti-join (J13, `NOT EXISTS` at `game.py:510`): customers with no
    * high-value order. The filtered build side keeps the result non-empty
    * at every scale factor. */
  val q10AntiJoin: Q = Q.sql(
    "q10_anti_join",
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin) { (s, dir) =>
    Tables(s, dir, "customer")
      .join(
        Tables(s, dir, "orders")
          .filter(col("o_totalprice") > 300000.0)
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")
  }

  // ---------------------------------------------------------------- q11
  /** Equi+band theta join (J6, opponent-stint join with `<>` + time band,
    * `game.py:349-352`): customer×supplier in the same nation with account
    * balances within 500.0 of each other. Equi key carries the shuffle; the
    * band is a post-join filter — same plan shape Catalyst gives J5/J6. */
  val q11BandJoin: Q = Q.sql(
    "q11_band_join",
    """SELECT CAST(c_nationkey AS BIGINT) AS nationkey, COUNT(*) AS n_pairs,
      |  CAST(SUM(CAST(c_acctbal - s_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS sum_diff
      |FROM customer JOIN supplier ON c_nationkey = s_nationkey
      |  AND c_acctbal > s_acctbal AND c_acctbal - s_acctbal < 500.0
      |GROUP BY c_nationkey""".stripMargin) { (s, dir) =>
    val c = Tables(s, dir, "customer")
    val su = Tables(s, dir, "supplier")
    c.join(broadcast(su),
        c("c_nationkey") === su("s_nationkey") &&
          c("c_acctbal") > su("s_acctbal") &&
          c("c_acctbal") - su("s_acctbal") < 500.0)
      .groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(
        count(lit(1)).as("n_pairs"),
        dsum(col("c_acctbal") - col("s_acctbal")).as("sum_diff"))
  }

  // ---------------------------------------------------------------- q12
  /** Set operations (U1-U3, reference stint-union `game.py:186-194`):
    * nation keys partitioned into customer-only / supplier-only / both via
    * INTERSECT and EXCEPT. */
  val q12SetOps: Q = Q.sql(
    "q12_set_ops",
    """WITH c AS (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer),
      |     s AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier)
      |SELECT nationkey, 'both' AS src FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
      |UNION ALL
      |SELECT nationkey, 'customer_only' AS src FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
      |UNION ALL
      |SELECT nationkey, 'supplier_only' AS src FROM (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c)""".stripMargin) { (s, dir) =>
    val c = Tables(s, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nationkey")).distinct()
    val su = Tables(s, dir, "supplier")
      .select(col("s_nationkey").cast("long").as("nationkey")).distinct()
    c.intersect(su).withColumn("src", lit("both"))
      .unionByName(c.except(su).withColumn("src", lit("customer_only")))
      .unionByName(su.except(c).withColumn("src", lit("supplier_only")))
  }

  // ---------------------------------------------------------------- q13
  /** Left-outer join + coalesce fallback (J8/J9, the reference's
    * `OPTIONAL MATCH` + `FOREACH(CASE WHEN ps IS NULL …)` pattern,
    * `game.py:239-259`): order → lineitem roll-up keeping empty orders. */
  val q13OuterCoalesce: Q = Q.sql(
    "q13_outer_coalesce",
    """SELECT o_orderkey, COALESCE(n_items, 0) AS n_items, first_ship
      |FROM orders LEFT JOIN (
      |  SELECT l_orderkey, COUNT(*) AS n_items,
      |    CAST(MIN(l_shipdate) AS TIMESTAMP) AS first_ship
      |  FROM lineitem GROUP BY l_orderkey
      |) ON l_orderkey = o_orderkey""".stripMargin) { (s, dir) =>
    val items = Tables(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"), min(col("l_shipdate")).as("first_ship"))
    Tables(s, dir, "orders")
      .join(items, col("o_orderkey") === col("l_orderkey"), "left_outer")
      .select(col("o_orderkey"),
        coalesce(col("n_items"), lit(0L)).as("n_items"),
        col("first_ship"))
  }

  // ---------------------------------------------------------------- q14
  /** Scalar function kernel (C1-C14): composite keys, split/contains,
    * coalesce/nullif, CASE chains, and the ISO-8601 duration clock parse
    * (C7 — `duration("PT11M32.00S")`, `game.py:88`) over a clock string
    * synthesized from `p_size`. */
  val q14ScalarKernel: Q = Q.sql(
    "q14_scalar_kernel",
    """SELECT p_partkey,
      |  concat_ws('_', p_brand, CAST(p_size AS VARCHAR)) AS part_key,
      |  string_split(p_name, ' ')[1] AS first_word,
      |  CAST(CASE WHEN contains(p_type, 'BRASS') THEN 1 ELSE 0 END AS BIGINT) AS is_brass,
      |  COALESCE(NULLIF(p_brand, 'Brand#13'), 'OTHER') AS brand_or_other,
      |  CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M' ELSE 'L' END AS size_class,
      |  CAST(regexp_extract('PT' || CAST(p_size AS VARCHAR) || 'M30.50S', 'PT(\d+)M', 1) AS DOUBLE) * 60.0
      |    + CAST(regexp_extract('PT' || CAST(p_size AS VARCHAR) || 'M30.50S', '(\d+(?:\.\d+)?)S', 1) AS DOUBLE) AS clock_sec
      |FROM part""".stripMargin) { (s, dir) =>
    import graft.ops.TimeKernel
    Tables(s, dir, "part").select(
      col("p_partkey"),
      concat_ws("_", col("p_brand"), col("p_size").cast("string")).as("part_key"),
      split(col("p_name"), " ").getItem(0).as("first_word"),
      when(col("p_type").contains("BRASS"), 1L).otherwise(0L).as("is_brass"),
      coalesce(nullif(col("p_brand"), lit("Brand#13")), lit("OTHER")).as("brand_or_other"),
      when(col("p_size") < 10, "S").when(col("p_size") < 30, "M").otherwise("L").as("size_class"),
      TimeKernel.clockSeconds(
        concat(lit("PT"), col("p_size").cast("string"), lit("M30.50S"))).as("clock_sec"))
  }

  // ---------------------------------------------------------------- q15
  /** JSON navigation (C13, `pbp["game"]["actions"]` at
    * `/root/reference/src/fetcher.py:102-103`): extract a typed field from
    * the JSON `props` payload and aggregate on it. */
  val q15JsonExtract: Q = Q.sql(
    "q15_json_extract",
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY k""".stripMargin) { (s, dir) =>
    Tables(s, dir, "events")
      .groupBy(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
  }

  // ---------------------------------------------------------------- q16
  /** Ordered collect → canonical set key (A3/A4/C11 — the reference's
    * lineup identity: sorted ids joined by `_`, `game.py:69-70`). */
  val q16SortedCollect: Q = Q.sql(
    "q16_sorted_collect",
    """SELECT l_orderkey,
      |  string_agg(CAST(l_partkey AS VARCHAR), '_' ORDER BY l_partkey) AS part_set,
      |  COUNT(*) AS n_items
      |FROM lineitem GROUP BY l_orderkey""".stripMargin) { (s, dir) =>
    Tables(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(
        array_join(transform(array_sort(collect_list(col("l_partkey"))),
          _.cast("string")), "_").as("part_set"),
        count(lit(1)).as("n_items"))
  }

  // ---------------------------------------------------------------- q17
  /** max_by/min_by ordered-group extremes (A9/A11 — latest overlapping
    * stint via `ORDER BY global_clock DESC … head`, `game.py:604-606`).
    * Tie-safe: ordering key includes the unique order key. */
  val q17MinMaxBy: Q = Q.sql(
    "q17_minmax_by",
    """WITH r AS (
      |  SELECT o_custkey, o_orderkey,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rl,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rf
      |  FROM orders)
      |SELECT o_custkey,
      |  MAX(CASE WHEN rl = 1 THEN o_orderkey END) AS last_orderkey,
      |  MAX(CASE WHEN rf = 1 THEN o_orderkey END) AS first_orderkey
      |FROM r GROUP BY o_custkey""".stripMargin) { (s, dir) =>
    Tables(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        max_by(col("o_orderkey"), struct(col("o_orderdate"), col("o_orderkey"))).as("last_orderkey"),
        min_by(col("o_orderkey"), struct(col("o_orderdate"), col("o_orderkey"))).as("first_orderkey"))
  }

  // ---------------------------------------------------------------- q18
  /** Tolerance-bounded as-of (J10 — rebound attributed to the latest
    * missed shot within 10 s, `game.py:506-513`): each error event linked
    * to the user's latest click within the preceding 10 minutes, else
    * null. */
  val q18ToleranceAsOf: Q = Q.sql(
    "q18_tolerance_asof",
    """WITH u AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |    CASE WHEN event_type = 'click' THEN event_id END AS c_id,
      |    CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END AS c_ts
      |  FROM events WHERE event_type IN ('click', 'error')
      |), f AS (
      |  SELECT event_id, user_id, event_type, ts,
      |    LAST_VALUE(c_id IGNORE NULLS) OVER w AS click_id,
      |    LAST_VALUE(c_ts IGNORE NULLS) OVER w AS click_ts
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id
      |    ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT event_id, user_id,
      |  CASE WHEN epoch_us(ts) - epoch_us(click_ts) <= 600000000 THEN click_id END AS click_id
      |FROM f WHERE event_type = 'error'""".stripMargin) { (s, dir) =>
    val ev = Tables(s, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    graft.ops.AsOf
      .join(errors, clicks, Seq("user_id"), "ts", "ts",
        payload = Seq("click_id"), tieBreak = Seq("click_id"),
        tolerance = Some(600.0))
      .select(col("event_id"), col("user_id"), col("click_id"))
  }

  // ---------------------------------------------------------------- q19
  /** Timestamp arithmetic kernel (C8: `duration.between`, `p.start +
    * p.duration`, `+ duration({milliseconds: …})` —
    * `/root/reference/src/queries/game.py:446` etc.): interval add,
    * day difference, epoch extraction, truncation. */
  val q19TimeArithmetic: Q = Q.sql(
    "q19_time_arithmetic",
    """SELECT o_orderkey,
      |  o_orderdate + INTERVAL 90 DAY AS due_date,
      |  o_orderdate + INTERVAL 1500 MILLISECOND AS tiebreak_ts,
      |  CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS days_since_95,
      |  epoch_us(o_orderdate) AS order_us,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month
      |FROM orders""".stripMargin) { (s, dir) =>
    Tables(s, dir, "orders").select(
      col("o_orderkey"),
      expr("timestampadd(DAY, 90, o_orderdate)").as("due_date"),
      expr("timestampadd(MILLISECOND, 1500, o_orderdate)").as("tiebreak_ts"),
      expr("timestampdiff(DAY, timestamp_ntz'1995-01-01 00:00:00', o_orderdate)")
        .cast("long").as("days_since_95"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("order_us"),
      date_trunc("month", col("o_orderdate")).as("order_month"))
  }

  // ---------------------------------------------------------------- q34
  /** Grouping sets via CUBE (beyond the reference's surface — SURVEY
    * §2.4 notes Spark has it natively): all 4 aggregation levels in one
    * pass, with GROUPING() flags so null-group rows are unambiguous. */
  val q34CubeRollup: Q = Q.sql(
    "q34_cube_rollup",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
    Tables(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"),
        dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
  }

  // ---------------------------------------------------------------- q45
  /** Skew-safe two-stage (salted) aggregation over the hot event_type
    * keys (ops.Salt): partials on (key, salt), combine on the key —
    * identical results to a direct groupBy (decimal accumulation makes
    * the sum order-independent), one hot key never lands on one reducer.
    */
  val q45SaltedAgg: Q = Q.sql(
    "q45_salted_agg",
    """SELECT event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .withColumn("v", col("value").cast("decimal(28,10)"))
    graft.ops.Salt.skewedSumCount(ev, Seq("event_type"), "v", "event_id")
      .select(col("event_type"),
        col("sum_v").cast("double").as("sum_value"), col("n"))
  }

  // ---------------------------------------------------------------- q75
  /** Exact distribution kernel: interpolated quantiles + extremes per
    * group (the data-quality profile a training-data pipeline runs before
    * filtering). Spark's `percentile` and DuckDB's `quantile_cont` share
    * the (1-f)·a + f·b interpolation on IEEE doubles, so the values are
    * bit-identical and hash-comparable. Exact percentile sorts per group
    * inside the aggregate — at extreme scale the drop-in is
    * `approx_percentile` (t-digest); exact is what the oracle can pin. */
  val q75Quantiles: Q = Q.sql(
    "q75_quantiles",
    """SELECT l_returnflag,
      |  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS p50,
      |  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS p95,
      |  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99) AS p99,
      |  CAST(MIN(l_extendedprice) AS DOUBLE) AS lo,
      |  CAST(MAX(l_extendedprice) AS DOUBLE) AS hi,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
    val price = col("l_extendedprice").cast("double")
    // one percentile buffer for all three points, not three (r11, guide
    // §1.2 per-task work): each percentile() is its own ImperativeAggregate
    // holding a full value->count map per group — the array form shares
    // one map and one merge pass, and element extraction is bit-identical
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(price, array(lit(0.5), lit(0.95), lit(0.99))).as("ps"),
        min(price).as("lo"),
        max(price).as("hi"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        col("ps").getItem(0).as("p50"),
        col("ps").getItem(1).as("p95"),
        col("ps").getItem(2).as("p99"),
        col("lo"), col("hi"), col("n"))
  }

  // ---------------------------------------------------------------- q82
  /** Sliding (overlapping) event-time windows: 2-hour windows sliding by
    * 1 hour, so every event lands in exactly two buckets — the rate/
    * rolling-feature shape a training pipeline computes over event
    * streams. Distinct from q80's tumbling windows: Spark's `window(ts,
    * size, slide)` replicates each row into size/slide buckets BEFORE the
    * shuffle (map-side explode, partial-aggregated), which the oracle
    * mirrors with an explicit unnest of the two bucket starts. Bucket
    * keys are integer epoch seconds on both sides; sums go through
    * DECIMAL(28,10) per the [[graft.Q]] rules. */
  val q82SlidingWindow: Q = Q.sql(
    "q82_sliding_window",
    """WITH b AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS hb, event_type, value
      |  FROM events
      |), e AS (
      |  SELECT unnest([hb, hb - 3600]) AS bucket_start, event_type, value
      |  FROM b
      |)
      |SELECT CAST(bucket_start AS BIGINT) AS bucket_start, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
      |FROM e GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    Tables(s, dir, "events")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).as("sv"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("event_type"), col("n_events"),
        col("sv").cast("double").as("sum_value"))
  }

  // ---------------------------------------------------------------- q115
  /** Sequential conversion funnel (view → click → purchase): per user,
    * the FIRST view, the first click within an hour of that view, and
    * the first purchase within an hour of that click, plus the funnel
    * depth reached — the product-analytics staple the event family was
    * missing (q04's as-of attribution looks BACKWARD to the nearest
    * cause; a funnel walks FORWARD through ordered steps with per-step
    * windows).
    *
    * Scale shape: each step is one equi-join on user_id with the step
    * window as a join-time range predicate, followed by a
    * partial-aggregated MIN — never a per-user event sort or window
    * over the raw stream; three bounded shuffles total, all on the
    * natural user_id key a funnel at 100 TB would partition by anyway.
    * Timestamps export as unix micros (the q99 discipline: integer
    * micros hash-match, TIMESTAMP columns round-trip differently). */
  val q115FunnelSteps: Q = Q.sql(
    "q115_funnel_steps",
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t_view
      |  FROM events WHERE event_type = 'view' GROUP BY 1
      |), c AS (
      |  SELECT v.user_id, MIN(e.ts) AS t_click
      |  FROM v JOIN events e ON e.user_id = v.user_id
      |    AND e.event_type = 'click'
      |    AND e.ts >= v.t_view AND e.ts <= v.t_view + INTERVAL 1 HOUR
      |  GROUP BY 1
      |), p AS (
      |  SELECT c.user_id, MIN(e.ts) AS t_purchase
      |  FROM c JOIN events e ON e.user_id = c.user_id
      |    AND e.event_type = 'purchase'
      |    AND e.ts >= c.t_click AND e.ts <= c.t_click + INTERVAL 1 HOUR
      |  GROUP BY 1
      |)
      |SELECT v.user_id,
      |  epoch_us(v.t_view) AS view_us,
      |  epoch_us(c.t_click) AS click_us,
      |  epoch_us(p.t_purchase) AS purchase_us,
      |  CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
      |            WHEN c.user_id IS NOT NULL THEN 2
      |            ELSE 1 END AS BIGINT) AS funnel_depth
      |FROM v
      |LEFT JOIN c ON c.user_id = v.user_id
      |LEFT JOIN p ON p.user_id = v.user_id""".stripMargin,
    "view->click->purchase funnel: per-step windowed first-event joins") { (s, dir) =>
    val ev = Tables(s, dir, "events")
    def firstStep(tpe: String): DataFrame = ev
      .filter(col("event_type") === tpe)
      .groupBy("user_id").agg(min(col("ts")).as(s"t_$tpe"))
    val v = firstStep("view")
    val c = v.join(ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts")),
        Seq("user_id"))
      .filter(col("ts") >= col("t_view") &&
        col("ts") <= col("t_view") + expr("INTERVAL 1 HOUR"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val pch = c.join(ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts")),
        Seq("user_id"))
      .filter(col("ts") >= col("t_click") &&
        col("ts") <= col("t_click") + expr("INTERVAL 1 HOUR"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left_outer")
      .join(pch, Seq("user_id"), "left_outer")
      .select(col("user_id"),
        unix_micros(col("t_view")).as("view_us"),
        unix_micros(col("t_click")).as("click_us"),
        unix_micros(col("t_purchase")).as("purchase_us"),
        when(col("t_purchase").isNotNull, 3L)
          .when(col("t_click").isNotNull, 2L)
          .otherwise(1L).as("funnel_depth"))
  }

  // ---------------------------------------------------------------- q124
  /** Wide-format pivot — per epoch day, event counts and decimal-exact
    * value sums spread across one column pair per event type: the
    * BI-export / feature-table shape (`groupBy(day).pivot(type).agg`).
    *
    * Scale stance: the pivot values are DECLARED, so the plan is ONE
    * partial-aggregated groupBy shuffle on the day key — no
    * distinct-values inference pass, which on 100 TB is a full extra
    * scan-and-collect before the real query can even plan (and an
    * unbounded-width schema besides; a declared list keeps the schema a
    * design artifact). Absent (day, type) cells coalesce to 0 on both
    * engines; value sums accumulate in DECIMAL(28,10) per the Q rules. */
  val q124Pivot: Q = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val duckCols = types.flatMap { t =>
      Seq(
        s"  CAST(COUNT(*) FILTER (WHERE event_type = '$t') AS BIGINT) AS n_$t",
        s"""  CAST(COALESCE(SUM(CAST(value AS DECIMAL(28,10)))
           |    FILTER (WHERE event_type = '$t'), 0) AS DOUBLE) AS v_$t""".stripMargin)
    }.mkString(",\n")
    Q.sql(
      "q124_pivot",
      s"""SELECT CAST((epoch_us(ts) // 86400000000) * 86400 AS BIGINT) AS day_start,
         |$duckCols
         |FROM events
         |GROUP BY 1""".stripMargin,
      "declared-values pivot: per-day wide event-type count/value matrix") {
      (s, dir) =>
        val wide = Tables(s, dir, "events")
          .groupBy(window(col("ts"), "1 day").as("w"))
          .pivot("event_type", types)
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(28,10)")).as("v"))
        val outCols = unix_timestamp(col("w.start")).as("day_start") +:
          types.flatMap(t => Seq(
            coalesce(col(s"${t}_n"), lit(0L)).cast("long").as(s"n_$t"),
            coalesce(col(s"${t}_v").cast("double"), lit(0.0)).as(s"v_$t")))
        wide.select(outCols: _*)
    }
  }

  // ---------------------------------------------------------------- q126
  /** Unpivot (melt) — q124's inverse reshape: the per-day wide value
    * matrix folds back to long (day_start, event_type, v) rows,
    * including the explicit 0.0 cells the wide format materialized for
    * absent (day, type) pairs. `Dataset.unpivot` plans as a map-side
    * Expand — zero shuffles of its own; the only exchanges are the
    * upstream pivot's pre-reduced aggregate pair. The oracle spells the
    * same frame as days x declared-types LEFT JOIN the per-pair sums. */
  val q126Unpivot: Q = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Q.sql(
      "q126_unpivot",
      s"""WITH days AS (
         |  SELECT DISTINCT (epoch_us(ts) // 86400000000) * 86400 AS day_start
         |  FROM events
         |), t(event_type) AS (
         |  VALUES ${types.map(t => s"('$t')").mkString(", ")}
         |), s AS (
         |  SELECT (epoch_us(ts) // 86400000000) * 86400 AS day_start, event_type,
         |    SUM(CAST(value AS DECIMAL(28,10))) AS v
         |  FROM events GROUP BY 1, 2
         |)
         |SELECT CAST(d.day_start AS BIGINT) AS day_start, t.event_type,
         |  CAST(COALESCE(s.v, 0) AS DOUBLE) AS v
         |FROM days d CROSS JOIN t
         |LEFT JOIN s ON s.day_start = d.day_start AND s.event_type = t.event_type""".stripMargin,
      "unpivot: melt the wide per-day value matrix back to long rows") {
      (s, dir) =>
        val wide = Tables(s, dir, "events")
          .groupBy(window(col("ts"), "1 day").as("w"))
          .pivot("event_type", types)
          .agg(sum(col("value").cast("decimal(28,10)")))
          .select(unix_timestamp(col("w.start")).as("day_start") +:
            types.map(t => coalesce(col(t).cast("double"), lit(0.0))
              .as(s"v_$t")): _*)
        wide.unpivot(Array(col("day_start")),
            types.map(t => col(s"v_$t")).toArray, "k", "v")
          .select(col("day_start"), substring(col("k"), 3, 100).as("event_type"),
            col("v"))
    }
  }

  // ---------------------------------------------------------------- q129
  /** Ranking-window kernel — the W-family completion the way q14 is the
    * scalar kernel: ntile quartiles, percent_rank, cume_dist and
    * nth_value in one pass per (event_type, ts, event_id)-ordered
    * window. The unique tie-break makes the default RANGE frame
    * row-deterministic on both engines; percent_rank/cume_dist are
    * exact rationals of rank and partition size, bit-identical as
    * doubles. One window shuffle on event_type — 5 partitions of equal
    * share, the shape AQE's skew handling covers at scale. */
  val q129WindowKernel: Q = Q.sql(
    "q129_window_kernel",
    """SELECT event_id, event_type,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cdist,
      |  nth_value(value, 3) OVER w AS third_value
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin,
    "window-function kernel: ntile, percent_rank, cume_dist, nth_value") {
    (s, dir) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events").select(col("event_id"), col("event_type"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"),
        nth_value(col("value"), 3).over(w).as("third_value"))
  }

  // ---------------------------------------------------------------- q130
  /** Time-series resample + gap fill: each user's sparse daily activity
    * densified onto their min..max day grid (`sequence` + explode — the
    * grid is generated per user, never a driver loop), missing days
    * filled by last-observation-carried-forward (`last(ignoreNulls)`
    * over a rows-preceding frame) with the observed flag kept. The
    * first grid day is observed by construction, so LOCF never reads
    * an empty frame. Daily sums accumulate in DECIMAL(28,10); the LOCF
    * window shuffles once on user_id. */
  val q130GapFill: Q = Q.sql(
    "q130_gap_fill",
    """WITH daily AS (
      |  SELECT user_id, (epoch_us(ts) // 86400000000) * 86400 AS day,
      |         SUM(CAST(value AS DECIMAL(28,10))) AS dv
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
      |), grid AS (
      |  SELECT user_id, unnest(range(d0, d1 + 86400, 86400)) AS day FROM span
      |)
      |SELECT g.user_id, CAST(g.day AS BIGINT) AS day,
      |  d.dv IS NOT NULL AS observed,
      |  CAST(last_value(d.dv IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS value_filled
      |FROM grid g
      |LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day""".stripMargin,
    "resample to a dense per-user day grid, LOCF gap fill") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"), window(col("ts"), "1 day").as("w"))
      .agg(sum(col("value").cast("decimal(28,10)")).as("dv"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("day"),
        col("dv"))
    val grid = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), lit(86400L))).as("day"))
    val wf = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), col("dv").isNotNull.as("observed"),
        last(col("dv"), ignoreNulls = true).over(wf).cast("double")
          .as("value_filled"))
  }

  // ---------------------------------------------------------------- q131
  /** Cohort retention — the product-analytics matrix: cohort = a user's
    * first active day, and for every (cohort, day-offset) cell the
    * distinct active users with the cohort's size and retention share.
    * Shape: one distinct pass, two partial-agg groupBys, the
    * user-keyed cohort join left to AQE (the cohort frame is O(users)
    * — a forced broadcast would be an executor bet at scale; act and
    * c0 share the user_id key so the fallback is a co-partitioned
    * join), and a broadcast of the O(days) cohort-size frame. Nothing
    * holds a per-user timeline in memory. Retention is an exact
    * rational of two bigints, bit-identical as a double on both
    * engines. */
  val q131CohortRetention: Q = Q.sql(
    "q131_cohort_retention",
    """WITH act AS (
      |  SELECT DISTINCT user_id,
      |    (epoch_us(ts) // 86400000000) * 86400 AS day
      |  FROM events
      |), c0 AS (
      |  SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY 1
      |), coh AS (
      |  SELECT cohort_day, COUNT(*) AS cohort_n FROM c0 GROUP BY 1
      |), r AS (
      |  SELECT c.cohort_day, (a.day - c.cohort_day) // 86400 AS day_offset,
      |         COUNT(*) AS active
      |  FROM act a JOIN c0 c USING (user_id) GROUP BY 1, 2
      |)
      |SELECT CAST(r.cohort_day AS BIGINT) AS cohort_day,
      |  CAST(r.day_offset AS BIGINT) AS day_offset,
      |  CAST(r.active AS BIGINT) AS active,
      |  CAST(coh.cohort_n AS BIGINT) AS cohort_n,
      |  CAST(r.active AS DOUBLE) / coh.cohort_n AS retention
      |FROM r JOIN coh USING (cohort_day)""".stripMargin,
    "cohort retention matrix: first-active-day cohorts x day offsets") {
    (s, dir) =>
      val act = Tables(s, dir, "events")
        .select(col("user_id"),
          window(col("ts"), "1 day").getField("start").as("w"))
        .select(col("user_id"), unix_timestamp(col("w")).as("day"))
        .distinct()
      val c0 = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      val coh = c0.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_n"))
      act.join(c0, Seq("user_id"))
        .groupBy(col("cohort_day"),
          ((col("day") - col("cohort_day")) / 86400).cast("long")
            .as("day_offset"))
        .agg(count(lit(1)).as("active"))
        .join(broadcast(coh), Seq("cohort_day"))
        .select(col("cohort_day"), col("day_offset"), col("active"),
          col("cohort_n"),
          (col("active").cast("double") / col("cohort_n")).as("retention"))
  }

  // ---------------------------------------------------------------- q133
  /** Trailing-window z-score anomaly detection — the ops-monitoring
    * staple: each (event_type, hour) count scored against the mean and
    * population std of that type's previous 24 OBSERVED hourly buckets
    * (a rows frame, so series gaps shrink nothing silently — the
    * baseline is always 24 real samples, enforced by the count filter).
    *
    * Determinism across engines: the window accumulates exact integer
    * sum / count / sum-of-squares; mean, variance (clamped at 0 against
    * FP cancellation before the sqrt) and z derive from them through
    * the IDENTICAL double expression tree on both sides, and sqrt is
    * correctly rounded on both — no round(), no data-dependent
    * transcendentals. One window shuffle on event_type. */
  val q133AnomalyZscore: Q = Q.sql(
    "q133_anomaly_zscore",
    """WITH hourly AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start,
      |         event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2
      |), w AS (
      |  SELECT bucket_start, event_type, n,
      |    SUM(n) OVER tw AS s, COUNT(n) OVER tw AS c, SUM(n * n) OVER tw AS sq
      |  FROM hourly
      |  WINDOW tw AS (PARTITION BY event_type ORDER BY bucket_start
      |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
      |), m AS (
      |  SELECT *, CAST(s AS DOUBLE) / c AS mean FROM w WHERE c = 24
      |), v AS (
      |  SELECT *, GREATEST(CAST(sq AS DOUBLE) / c - mean * mean, 0.0) AS vr
      |  FROM m
      |), sd AS (
      |  SELECT *, sqrt(vr) AS std FROM v
      |)
      |SELECT CAST(bucket_start AS BIGINT) AS bucket_start, event_type,
      |  CAST(n AS BIGINT) AS n, mean, std,
      |  CASE WHEN std > 0 THEN (CAST(n AS DOUBLE) - mean) / std END AS z,
      |  CASE WHEN std > 0 THEN abs((CAST(n AS DOUBLE) - mean) / std) > 3
      |       ELSE FALSE END AS is_anomaly
      |FROM sd""".stripMargin,
    "per-type hourly counts z-scored against the trailing 24-bucket baseline") {
    (s, dir) =>
      val hourly = Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("bucket_start"),
          col("event_type"), col("n"))
      val tw = Window.partitionBy(col("event_type"))
        .orderBy(col("bucket_start")).rowsBetween(-24, -1)
      hourly
        .withColumn("s", sum(col("n")).over(tw))
        .withColumn("c", count(col("n")).over(tw))
        .withColumn("sq", sum(col("n") * col("n")).over(tw))
        .filter(col("c") === 24)
        .withColumn("mean", col("s").cast("double") / col("c"))
        .withColumn("vr",
          greatest(col("sq").cast("double") / col("c")
            - col("mean") * col("mean"), lit(0.0)))
        .withColumn("std", sqrt(col("vr")))
        .withColumn("z", when(col("std") > 0,
          (col("n").cast("double") - col("mean")) / col("std")))
        .select(col("bucket_start"), col("event_type"), col("n"),
          col("mean"), col("std"), col("z"),
          when(col("std") > 0, abs(col("z")) > 3).otherwise(lit(false))
            .as("is_anomaly"))
  }

  // ---------------------------------------------------------------- q137
  /** Nearest as-of join — the bidirectional completion of q04 (backward)
    * and q18 (tolerance): every purchase pairs with its temporally
    * CLOSEST click within ±1 h, earlier click winning exact-distance
    * ties. Same union+window spelling as q04 (no per-key sort-merge
    * gymnastics): one shuffle on user_id carries BOTH direction scans —
    * `last_value ignore nulls` over the preceding frame finds the
    * at-or-before click, `first_value ignore nulls` over the following
    * frame the strictly-after one (same-ts clicks order before the
    * purchase, so the two frames partition the candidates) — then a
    * row-local integer-µs comparison picks the winner. Unmatched
    * purchases keep NULL, so the output is audit-complete. */
  val q137AsOfNearest: Q = {
    val tolUs = 3600L * 1000000L
    Q.sql(
      "q137_asof_nearest",
      s"""WITH u AS (
         |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         |    CASE WHEN event_type = 'click' THEN event_id END AS c_id,
         |    CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END AS c_ts
         |  FROM events WHERE event_type IN ('click', 'purchase')
         |), f AS (
         |  SELECT event_id, user_id, event_type, ts,
         |    LAST_VALUE(c_id IGNORE NULLS) OVER wb AS b_id,
         |    LAST_VALUE(c_ts IGNORE NULLS) OVER wb AS b_ts,
         |    FIRST_VALUE(c_id IGNORE NULLS) OVER wf AS f_id,
         |    FIRST_VALUE(c_ts IGNORE NULLS) OVER wf AS f_ts
         |  FROM u
         |  WINDOW wb AS (PARTITION BY user_id
         |    ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wf AS (PARTITION BY user_id
         |    ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END, event_id
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |), g AS (
         |  SELECT event_id, user_id,
         |    epoch_us(ts) - epoch_us(b_ts) AS gb,
         |    epoch_us(f_ts) - epoch_us(ts) AS gf, b_id, f_id
         |  FROM f WHERE event_type = 'purchase'
         |)
         |SELECT event_id, user_id,
         |  CASE WHEN gb <= $tolUs AND (gf IS NULL OR gf > $tolUs OR gb <= gf)
         |         THEN b_id
         |       WHEN gf <= $tolUs THEN f_id END AS click_id,
         |  CASE WHEN gb <= $tolUs AND (gf IS NULL OR gf > $tolUs OR gb <= gf)
         |         THEN gb
         |       WHEN gf <= $tolUs THEN -gf END AS gap_us
         |FROM g""".stripMargin,
      "nearest-within-tolerance as-of join, earlier side wins ties") {
      (s, dir) =>
        val ev = Tables(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
            when(col("event_type") === "click", col("event_id")).as("c_id"),
            when(col("event_type") === "click", col("ts")).as("c_ts"))
        val ord = Seq(col("ts"),
          when(col("event_type") === "click", 0).otherwise(1), col("event_id"))
        val wb = Window.partitionBy(col("user_id")).orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wf = Window.partitionBy(col("user_id")).orderBy(ord: _*)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val g = ev
          .withColumn("b_id", last(col("c_id"), ignoreNulls = true).over(wb))
          .withColumn("b_ts", last(col("c_ts"), ignoreNulls = true).over(wb))
          .withColumn("f_id", first(col("c_id"), ignoreNulls = true).over(wf))
          .withColumn("f_ts", first(col("c_ts"), ignoreNulls = true).over(wf))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            (unix_micros(col("ts")) - unix_micros(col("b_ts"))).as("gb"),
            (unix_micros(col("f_ts")) - unix_micros(col("ts"))).as("gf"),
            col("b_id"), col("f_id"))
        val backWins = col("gb") <= tolUs &&
          (col("gf").isNull || col("gf") > tolUs || col("gb") <= col("gf"))
        g.select(col("event_id"), col("user_id"),
          when(backWins, col("b_id"))
            .when(col("gf") <= tolUs, col("f_id")).as("click_id"),
          when(backWins, col("gb"))
            .when(col("gf") <= tolUs, -col("gf")).as("gap_us"))
    }
  }

  // ---------------------------------------------------------------- q139
  /** Longest strictly-increasing run per user — MATCH_RECOGNIZE-style
    * pattern detection spelled as gap-and-islands over the VALUE
    * direction (where q05's islands are over time gaps): a break opens
    * wherever value fails to increase, the running break count names the
    * island, and each user keeps their longest island (earliest start
    * breaking length ties). Both window passes share one user_id
    * shuffle; the per-island roll-up is a partial agg; the final
    * longest-per-user is a WindowGroupLimit-prunable rank. */
  val q139LongestStreak: Q = Q.sql(
    "q139_longest_streak",
    """WITH d AS (
      |  SELECT user_id, event_id, value, epoch_us(ts) AS tus,
      |    COALESCE(value > lag(value) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id), FALSE) AS inc
      |  FROM events
      |), isl AS (
      |  SELECT user_id, event_id, tus,
      |    SUM(CASE WHEN inc THEN 0 ELSE 1 END) OVER
      |      (PARTITION BY user_id ORDER BY tus, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM d
      |), runs AS (
      |  SELECT user_id, grp, COUNT(*) AS len,
      |    MIN(tus) AS start_us, MAX(tus) AS end_us
      |  FROM isl GROUP BY 1, 2
      |)
      |SELECT user_id, CAST(len AS BIGINT) AS streak_len,
      |  CAST(start_us AS BIGINT) AS start_us, CAST(end_us AS BIGINT) AS end_us
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY user_id ORDER BY len DESC, start_us, grp) AS rk
      |      FROM runs)
      |WHERE rk = 1""".stripMargin,
    "longest strictly-increasing value run per user (direction islands)") {
    (s, dir) =>
      val wl = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wc = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val runs = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("tus"),
          coalesce(col("value") > lag(col("value"), 1).over(wl), lit(false))
            .as("inc"))
        .withColumn("grp",
          sum(when(col("inc"), 0).otherwise(1)).over(wc))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"),
          min(col("tus")).as("start_us"), max(col("tus")).as("end_us"))
      val wr = Window.partitionBy(col("user_id"))
        .orderBy(col("len").desc, col("start_us"), col("grp"))
      runs.withColumn("rk", row_number().over(wr)).filter(col("rk") === 1)
        .select(col("user_id"), col("len").as("streak_len"),
          col("start_us"), col("end_us"))
  }

  // ---------------------------------------------------------------- q142
  /** Multi-touch attribution — each purchase credits every click in its
    * trailing 7-day window equally (linear attribution). The candidate
    * scan is a RANGE frame over integer event-time µs in the q04 union
    * spelling: one user_id shuffle, the frame bounded by TIME (not row
    * count) so burst users and sparse users get the same semantics, and
    * RANGE's include-all-peers rule makes same-µs ties framing-
    * deterministic with no tie-break column. Credit is the exact
    * rational 1/n emitted as double. */
  val q142MultiTouch: Q = {
    val winUs = 7L * 86400L * 1000000L
    Q.sql(
      "q142_multitouch",
      s"""WITH u AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS tus, event_type,
         |    CASE WHEN event_type = 'click' THEN 1 END AS c_one,
         |    CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS c_tus
         |  FROM events WHERE event_type IN ('click', 'purchase')
         |), f AS (
         |  SELECT event_id, user_id, event_type, tus,
         |    COUNT(c_one) OVER w AS n_touch,
         |    MIN(c_tus) OVER w AS first_touch_us
         |  FROM u
         |  WINDOW w AS (PARTITION BY user_id ORDER BY tus
         |    RANGE BETWEEN $winUs PRECEDING AND CURRENT ROW)
         |)
         |SELECT event_id, user_id, CAST(n_touch AS BIGINT) AS n_touch,
         |  CAST(first_touch_us AS BIGINT) AS first_touch_us,
         |  CASE WHEN n_touch > 0 THEN 1.0 / n_touch END AS credit
         |FROM f WHERE event_type = 'purchase'""".stripMargin,
      "linear multi-touch attribution over a trailing 7-day RANGE frame") {
      (s, dir) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
          .rangeBetween(-winUs, 0)
        Tables(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("tus"), col("event_type"),
            when(col("event_type") === "click", 1).as("c_one"),
            when(col("event_type") === "click", unix_micros(col("ts")))
              .as("c_tus"))
          .withColumn("n_touch", count(col("c_one")).over(w))
          .withColumn("first_touch_us", min(col("c_tus")).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("n_touch"),
            col("first_touch_us"),
            when(col("n_touch") > 0, lit(1.0) / col("n_touch")).as("credit"))
    }
  }

  // ---------------------------------------------------------------- q143
  /** Interval union — merge each user's overlapping activity intervals
    * (event start + a value-derived duration) into maximal covered
    * blocks: the classic sweep as windows, no self-join. The running
    * `max(end)` over strictly-preceding rows decides block boundaries
    * (a start at-or-before the running max extends the block — within a
    * block coverage is contiguous by induction, so block length is
    * simply max(end) − min(start)). Distinct from q05's sessionize:
    * gaps are measured between INTERVALS of heterogeneous length, not
    * points. One user_id window shuffle + two partial aggs; all
    * arithmetic integer µs. */
  val q143IntervalUnion: Q = Q.sql(
    "q143_interval_union",
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s,
      |    epoch_us(ts)
      |      + (1 + CAST(floor(value) AS BIGINT)) * 60000000 AS e
      |  FROM events
      |), m AS (
      |  SELECT user_id, event_id, s, e,
      |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
      |  FROM iv
      |), b AS (
      |  SELECT user_id, s, e,
      |    SUM(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id ORDER BY s, e, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS blk
      |  FROM m
      |), blocks AS (
      |  SELECT user_id, blk, MIN(s) AS bs, MAX(e) AS be
      |  FROM b GROUP BY 1, 2
      |)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(SUM(be - bs) AS BIGINT) AS covered_us
      |FROM blocks GROUP BY 1""".stripMargin,
    "merge overlapping per-user intervals; covered time and block count") {
    (s, dir) =>
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("s"), col("e"), col("event_id"))
      val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) +
            (lit(1L) + floor(col("value")).cast("long")) * 60000000L).as("e"))
        .withColumn("maxe", max(col("e")).over(wPrev))
        .withColumn("blk", sum(
          when(col("maxe").isNull || col("s") > col("maxe"), 1)
            .otherwise(0)).over(wCum))
        .groupBy(col("user_id"), col("blk"))
        .agg(min(col("s")).as("bs"), max(col("e")).as("be"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("be") - col("bs")).as("covered_us"))
  }

  // ---------------------------------------------------------------- q160
  /** Percentile winsorization — outlier capping at the per-type
    * p01/p99, the numeric-cleaning analog of q94b's threshold draw:
    * values bucket to exact integer centi-units (floor(v·100) — the
    * q147 canonicalization), the per-(type, bucket) histogram is
    * BOUNDED by the value range, the two caps come from a cumsum
    * window over that bounded histogram only (never a corpus-wide
    * sort/rank — exact-percentile-by-sort is the shape that dies at
    * 100 TB), and the clamp itself is a map-side broadcast join.
    * Ceil thresholds are exact integer arithmetic; the winsorized
    * value re-emits as bucket/100 in double — exact, engine-stable. */
  val q160Winsorize: Q = Q.sql(
    "q160_winsorize",
    """WITH b AS (
      |  SELECT event_id, event_type,
      |    CAST(floor(value * 100) AS BIGINT) AS bk
      |  FROM events
      |), hist AS (
      |  SELECT event_type, bk, COUNT(*) AS c FROM b GROUP BY 1, 2
      |), cum AS (
      |  SELECT event_type, bk, c,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY bk
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM hist
      |), caps AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN cm >= (n + 99) // 100 THEN bk END) AS cap_lo,
      |    MIN(CASE WHEN cm >= (99 * n + 99) // 100 THEN bk END) AS cap_hi
      |  FROM cum GROUP BY 1
      |)
      |SELECT b.event_id, b.event_type, CAST(b.bk AS BIGINT) AS bk,
      |  CAST(caps.cap_lo AS BIGINT) AS cap_lo,
      |  CAST(caps.cap_hi AS BIGINT) AS cap_hi,
      |  CAST(LEAST(GREATEST(b.bk, caps.cap_lo), caps.cap_hi) AS DOUBLE) / 100
      |    AS winsorized,
      |  b.bk < caps.cap_lo OR b.bk > caps.cap_hi AS was_clamped
      |FROM b JOIN caps USING (event_type)""".stripMargin,
    "p01/p99 winsorization from bounded per-type histograms") { (s, dir) =>
    val b = Tables(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("bk"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val caps = b.groupBy(col("event_type"), col("bk"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cm", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("event_type"))
      .agg(
        min(when(col("cm") >= expr("(n + 99) div 100"), col("bk")))
          .as("cap_lo"),
        min(when(col("cm") >= expr("(99 * n + 99) div 100"), col("bk")))
          .as("cap_hi"))
    b.join(broadcast(caps), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("bk"),
        col("cap_lo"), col("cap_hi"),
        (least(greatest(col("bk"), col("cap_lo")), col("cap_hi"))
          .cast("double") / 100).as("winsorized"),
        (col("bk") < col("cap_lo") || col("bk") > col("cap_hi"))
          .as("was_clamped"))
  }

  // ---------------------------------------------------------------- q157
  /** Referential-integrity audit — the cross-table DQ report an
    * ingestion runs against the whole star: five FK/usage checks, each
    * one anti-join count (broken children AND childless parents both
    * directions), emitted as one (check, total, violations, rate)
    * report. Dimension sides broadcast; the fact-fact check
    * (lineitem→orders) is the one co-partitioned shuffle pair. Rates
    * are exact bigint rationals. */
  val q157RiAudit: Q = {
    case class Check(name: String, childSql: String, parentSql: String,
        childDf: (SparkSession, String) => DataFrame,
        parentDf: (SparkSession, String) => DataFrame)
    val checks = Seq(
      Check("lineitem_to_orders",
        "SELECT l_orderkey AS k FROM lineitem",
        "SELECT o_orderkey AS k FROM orders",
        (s, d) => Tables(s, d, "lineitem").select(col("l_orderkey").as("k")),
        (s, d) => Tables(s, d, "orders").select(col("o_orderkey").as("k"))),
      Check("orders_to_customer",
        "SELECT o_custkey AS k FROM orders",
        "SELECT c_custkey AS k FROM customer",
        (s, d) => Tables(s, d, "orders").select(col("o_custkey").as("k")),
        (s, d) => Tables(s, d, "customer").select(col("c_custkey").as("k"))),
      Check("events_user_to_customer",
        "SELECT user_id AS k FROM events",
        "SELECT c_custkey AS k FROM customer",
        (s, d) => Tables(s, d, "events").select(col("user_id").as("k")),
        (s, d) => Tables(s, d, "customer").select(col("c_custkey").as("k"))),
      Check("customer_without_orders",
        "SELECT c_custkey AS k FROM customer",
        "SELECT o_custkey AS k FROM orders",
        (s, d) => Tables(s, d, "customer").select(col("c_custkey").as("k")),
        (s, d) => Tables(s, d, "orders").select(col("o_custkey").as("k"))),
      Check("part_never_ordered",
        "SELECT p_partkey AS k FROM part",
        "SELECT l_partkey AS k FROM lineitem",
        (s, d) => Tables(s, d, "part").select(col("p_partkey").as("k")),
        (s, d) => Tables(s, d, "lineitem").select(col("l_partkey").as("k"))),
      // the fixture is referentially intact (every row above audits 0),
      // so one check runs against a deterministically "purged" parent
      // set — proving the detection path actually fires
      Check("orders_to_customer_after_purge",
        "SELECT o_custkey AS k FROM orders",
        "SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 <> 0",
        (s, d) => Tables(s, d, "orders").select(col("o_custkey").as("k")),
        (s, d) => Tables(s, d, "customer")
          .filter(col("c_custkey") % 97 =!= 0)
          .select(col("c_custkey").as("k"))))
    val oracle = checks.map { c =>
      s"""SELECT '${c.name}' AS check_name,
         |  (SELECT COUNT(*) FROM (${c.childSql})) AS n_rows,
         |  (SELECT COUNT(*) FROM (${c.childSql}) ch
         |   WHERE NOT EXISTS (SELECT 1 FROM (${c.parentSql}) p WHERE p.k = ch.k))
         |    AS n_orphaned,
         |  CAST((SELECT COUNT(*) FROM (${c.childSql}) ch
         |   WHERE NOT EXISTS (SELECT 1 FROM (${c.parentSql}) p WHERE p.k = ch.k))
         |   AS DOUBLE)
         |    / (SELECT COUNT(*) FROM (${c.childSql})) AS orphan_rate""".stripMargin
    }.mkString("\nUNION ALL\n")
    Q.sql("q157_ri_audit", oracle,
      "cross-table referential-integrity report: five anti-join checks") {
      (s, dir) =>
        checks.map { c =>
          val child = c.childDf(s, dir)
          val orphans = child
            .join(c.parentDf(s, dir).distinct(), Seq("k"), "left_anti")
            .agg(count(lit(1)).as("n_orphaned"))
          val total = child.agg(count(lit(1)).as("n_rows"))
          total.crossJoin(broadcast(orphans))
            .select(lit(c.name).as("check_name"), col("n_rows"),
              col("n_orphaned"),
              (col("n_orphaned").cast("double") / col("n_rows"))
                .as("orphan_rate"))
        }.reduce(_.unionByName(_))
    }
  }

  // ---------------------------------------------------------------- q156
  /** Session-scoped funnel — q115's view→click→purchase ladder measured
    * INSIDE q05's behavioral sessions instead of global time windows:
    * per session the first view, the first click at-or-after it, the
    * first purchase at-or-after that, and the resulting funnel depth.
    * The dependent "first X after Y" chain is three stacked whole-
    * partition window mins (each conditioned on the previous — no
    * self-joins), all riding the session shuffle's user_id partitioning;
    * the roll-up reuses it too. One exchange end to end. */
  val q156SessionFunnel: Q = Q.sql(
    "q156_session_funnel",
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, event_type, tus,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged
      |), s1 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'view' THEN tus END) OVER sw AS v
      |  FROM sess WINDOW sw AS (PARTITION BY user_id, session_id)
      |), s2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND tus >= v THEN tus END)
      |    OVER sw AS c
      |  FROM s1 WINDOW sw AS (PARTITION BY user_id, session_id)
      |), s3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND tus >= c THEN tus END)
      |    OVER sw AS p
      |  FROM s2 WINDOW sw AS (PARTITION BY user_id, session_id)
      |)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  COUNT(*) AS n_events,
      |  CAST(MIN(v) AS BIGINT) AS view_us, CAST(MIN(c) AS BIGINT) AS click_us,
      |  CAST(MIN(p) AS BIGINT) AS purchase_us,
      |  CAST(CASE WHEN MIN(p) IS NOT NULL THEN 3
      |       WHEN MIN(c) IS NOT NULL THEN 2
      |       WHEN MIN(v) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth
      |FROM s3 GROUP BY user_id, session_id""".stripMargin,
    "view -> click -> purchase funnel measured inside behavioral sessions") {
    (s, dir) =>
      val sess = graft.ops.Sessionize(
          Tables(s, dir, "events"), Seq("user_id"), "ts",
          gapMicros = 30L * 60 * 1000000, tieBreak = Seq("event_id"))
        .select(col("user_id"), col("session_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
      val sw = Window.partitionBy(col("user_id"), col("session_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      sess
        .withColumn("v",
          min(when(col("event_type") === "view", col("tus"))).over(sw))
        .withColumn("c",
          min(when(col("event_type") === "click" && col("tus") >= col("v"),
            col("tus"))).over(sw))
        .withColumn("p",
          min(when(col("event_type") === "purchase" && col("tus") >= col("c"),
            col("tus"))).over(sw))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("v")).as("view_us"), min(col("c")).as("click_us"),
          min(col("p")).as("purchase_us"))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("view_us"), col("click_us"), col("purchase_us"),
          when(col("purchase_us").isNotNull, 3L)
            .when(col("click_us").isNotNull, 2L)
            .when(col("view_us").isNotNull, 1L)
            .otherwise(0L).as("depth"))
  }

  // ---------------------------------------------------------------- q152
  /** Time-decay attribution — q142's linear credit replaced by the
    * marketing-standard exponential decay, halving per day: each
    * purchase sums weight 2^−⌊Δ/day⌋ over its trailing-30-day clicks.
    *
    * The halving base is chosen for DETERMINISM, not just convention:
    * every weight is the dyadic rational 1/2^k (built by integer
    * shift — never `pow`, which engines round differently), and partial
    * sums of values spanning ≤ 30 exponent bits with counts ≤ 2^12 stay
    * under the 53-bit mantissa — so every intermediate addition is
    * EXACT and the double sum is order-independent across engines and
    * partitionings, the property plain double sums never have.
    *
    * Shape: one user-keyed equi-join with the 30-day band as a residual
    * predicate (fan-out bounded by clicks-per-user-month), partial-agg
    * roll-up; LEFT join keeps zero-click purchases at credit 0. */
  val q152DecayAttribution: Q = Q.sql(
    "q152_decay_attribution",
    """SELECT p.event_id, p.user_id,
      |  CAST(COUNT(c.event_id) AS BIGINT) AS n_touch,
      |  COALESCE(SUM(1.0 / (CAST(1 AS BIGINT) <<
      |    ((epoch_us(p.ts) - epoch_us(c.ts)) // 86400000000))), 0.0)
      |    AS decay_credit
      |FROM events p
      |LEFT JOIN events c ON c.user_id = p.user_id
      |  AND c.event_type = 'click' AND c.ts <= p.ts
      |  AND epoch_us(c.ts) > epoch_us(p.ts) - 2592000000000
      |WHERE p.event_type = 'purchase'
      |GROUP BY 1, 2""".stripMargin,
    "exponential time-decay attribution with exact dyadic weights") {
    (s, dir) =>
      val ev = Tables(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ptus"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"),
          unix_micros(col("ts")).as("ctus"))
      p.as("p").join(c.as("c"),
          col("p.user_id") === col("c.user_id") &&
            col("ctus") <= col("ptus") &&
            col("ctus") > col("ptus") - 2592000000000L, "left")
        .select(col("p.event_id").as("event_id"),
          col("p.user_id").as("user_id"), col("ptus"), col("ctus"),
          col("c_id"))
        .withColumn("w", lit(1.0) /
          expr("shiftleft(cast(1 as bigint), cast((ptus - ctus) div 86400000000 as int))"))
        .groupBy(col("event_id"), col("user_id"))
        .agg(count(col("c_id")).as("n_touch"),
          coalesce(sum(col("w")), lit(0.0)).as("decay_credit"))
  }

  // ---------------------------------------------------------------- q153
  /** Z-order (Morton) layout — the multi-dimensional clustering key a
    * lakehouse sorts 100 TB by so scans can prune on EITHER dimension:
    * the two 16-bit keys (user bucket, epoch day) bit-interleave into
    * one 32-bit z-value via the classic spread-bits mask cascade (pure
    * integer &/|/shift — identical arithmetic both engines), and rows
    * roll up per aligned 2^22-wide z-range. Morton's locality guarantee
    * — an aligned z-range of size 2^(2k) confines each dimension to an
    * aligned 2^k window — is what makes the layout prunable, and the
    * emitted per-bucket min/max spans let the oracle AND the spec check
    * it exactly (span ≤ 2^11 − 1 on both dims). At scale the z-value is
    * the `repartitionByRange`/`sortWithinPartitions` key; here the
    * computation is map-side + one partial-agg roll-up. */
  val q153ZorderLayout: Q = {
    // spread 8 bits to even positions: the standard mask cascade
    def spread(x: String, shl: (String, Int) => String): String = {
      val steps = Seq(4 -> 0x0F0FL, 2 -> 0x3333L, 1 -> 0x5555L)
      steps.foldLeft(s"($x & 255)") { case (e, (sh, mask)) =>
        s"(($e | ${shl(e, sh)}) & $mask)"
      }
    }
    def sparkShl(e: String, n: Int) = s"shiftleft($e, $n)"
    def duckShl(e: String, n: Int) = s"($e << $n)"
    def z(xs: String, ys: String, shl: (String, Int) => String): String =
      s"(${spread(xs, shl)} | ${shl(spread(ys, shl), 1)})"
    val sparkZ = z("(user_id % 256)",
      "((unix_micros(ts) div 3600000000) % 256)", sparkShl)
    val duckZ = z("(user_id % 256)",
      "((epoch_us(ts) // 3600000000) % 256)", duckShl)
    Q.sql(
      "q153_zorder_layout",
      s"""WITH m AS (
         |  SELECT user_id % 256 AS x,
         |    (epoch_us(ts) // 3600000000) % 256 AS y,
         |    $duckZ AS zv
         |  FROM events
         |)
         |SELECT CAST(zv >> 8 AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
         |  CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max
         |FROM m GROUP BY 1""".stripMargin,
      "Z-order clustering key + per-aligned-range dimension spans") {
      (s, dir) =>
        Tables(s, dir, "events")
          .select(expr("user_id % 256").as("x"),
            expr("(unix_micros(ts) div 3600000000) % 256").as("y"),
            expr(sparkZ).as("zv"))
          .groupBy(expr("zv div 256").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("x")).as("x_min"), max(col("x")).as("x_max"),
            min(col("y")).as("y_min"), max(col("y")).as("y_max"))
    }
  }

  // ---------------------------------------------------------------- q147
  /** Data-quality profiling — the one-pass table profile every 100 TB
    * ingestion runs before anything else: per column the row count, null
    * count/rate, exact distinct cardinality and canonical-string length
    * bounds. One scan `stack`s the six columns into (col_name, sval)
    * rows map-side (Expand — no extra read), then a single groupBy
    * profiles all columns together; Spark plans COUNT(DISTINCT) as the
    * standard two-phase partial-agg expansion (the KMV sketch family
    * q44/q102 is the recorded swap-in once exactness stops paying).
    * Non-string columns canonicalize to engine-stable strings first:
    * integers/timestamps via exact casts, doubles via
    * `floor(value·10⁶)` — double→string formatting is NOT portable
    * across engines, fixed-point truncation is. */
  val q147Profile: Q = {
    val cols: Seq[(String, String)] = Seq(
      "event_id" -> "CAST(event_id AS STRING)",
      "ts" -> "CAST(unix_micros(ts) AS STRING)",
      "user_id" -> "CAST(user_id AS STRING)",
      "event_type" -> "event_type",
      "value" -> "CAST(CAST(floor(value * 1000000) AS BIGINT) AS STRING)",
      "props" -> "props")
    val duck = Map(
      "ts" -> "CAST(epoch_us(ts) AS VARCHAR)",
      "value" -> "CAST(CAST(floor(value * 1000000) AS BIGINT) AS VARCHAR)",
      "event_id" -> "CAST(event_id AS VARCHAR)",
      "user_id" -> "CAST(user_id AS VARCHAR)")
    val branches = cols.map { case (n, _) =>
      val e = duck.getOrElse(n, n)
      s"""SELECT '$n' AS col_name, COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT(x) AS n_null,
         |  CAST(COUNT(*) - COUNT(x) AS DOUBLE) / COUNT(*) AS null_rate,
         |  CAST(COUNT(DISTINCT x) AS BIGINT) AS n_distinct,
         |  CAST(MIN(length(x)) AS BIGINT) AS min_len,
         |  CAST(MAX(length(x)) AS BIGINT) AS max_len
         |FROM (SELECT $e AS x FROM events)""".stripMargin
    }.mkString("\nUNION ALL\n")
    Q.sql("q147_profile", branches,
      "one-pass per-column DQ profile: nulls, distincts, length bounds") {
      (s, dir) =>
        val stackArgs = cols.map { case (n, e) => s"'$n', $e" }.mkString(", ")
        Tables(s, dir, "events")
          .selectExpr(s"stack(${cols.size}, $stackArgs) AS (col_name, x)")
          .groupBy(col("col_name"))
          .agg(count(lit(1)).as("n_rows"),
            (count(lit(1)) - count(col("x"))).as("n_null"),
            ((count(lit(1)) - count(col("x"))).cast("double") / count(lit(1)))
              .as("null_rate"),
            countDistinct(col("x")).as("n_distinct"),
            min(length(col("x"))).cast("long").as("min_len"),
            max(length(col("x"))).cast("long").as("max_len"))
    }
  }

  // ---------------------------------------------------------------- q161
  /** CDC apply (MERGE INTO semantics) — the lakehouse upsert: a base
    * snapshot (per-user state as of a cutoff) has a changelog (events
    * at/after the cutoff, `error` rows acting as delete tombstones)
    * applied to it with latest-wins-per-key ordering. A key's final
    * state is decided ONLY by its last change — upsert replaces, delete
    * removes, keys untouched by the log carry the base row forward.
    *
    * Shape (the one Delta/Iceberg MERGE compiles to): each side reduces
    * to one row per key via a user-keyed ROW_NUMBER (ts DESC, event_id
    * DESC unique tie-break — rank-1 prunes via WindowGroupLimit), then
    * ONE co-partitioned full-outer equi-join decides carry/replace/drop
    * map-side. Nothing is ever driver-side; both window shuffles and the
    * join share the user_id key, so AQE plans a single exchange chain. */
  val q161CdcApply: Q = {
    val cut = "TIMESTAMP '2024-01-16 00:00:00'"
    Q.sql(
      "q161_cdc_apply",
      s"""WITH b0 AS (
         |  SELECT user_id, value, epoch_us(ts) AS tus,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rk
         |  FROM events WHERE ts < $cut
         |), b AS (SELECT user_id, value, tus FROM b0 WHERE rk = 1
         |), c0 AS (
         |  SELECT user_id, value, epoch_us(ts) AS tus,
         |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_delete,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rk
         |  FROM events WHERE ts >= $cut
         |), c AS (SELECT user_id, value, tus, is_delete FROM c0 WHERE rk = 1)
         |SELECT COALESCE(b.user_id, c.user_id) AS user_id,
         |  CASE WHEN c.user_id IS NULL THEN b.value ELSE c.value END AS value,
         |  CASE WHEN c.user_id IS NULL THEN b.tus ELSE c.tus END AS state_us,
         |  CASE WHEN c.user_id IS NULL THEN 'base' ELSE 'changelog' END AS src
         |FROM b FULL OUTER JOIN c ON c.user_id = b.user_id
         |WHERE c.is_delete IS NULL OR c.is_delete = 0""".stripMargin,
      "CDC MERGE apply: latest-wins upsert/delete changelog onto a base snapshot") {
      (s, dir) =>
        val ev = Tables(s, dir, "events").select(
          col("user_id"), col("value"), unix_micros(col("ts")).as("tus"),
          col("event_type"), col("event_id"), col("ts"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
        val base = ev.filter(col("ts") < cutoff)
          .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .select(col("user_id"), col("value").as("b_value"),
            col("tus").as("b_tus"))
        val chg = ev.filter(col("ts") >= cutoff)
          .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .select(col("user_id"), col("value").as("c_value"),
            col("tus").as("c_tus"),
            when(col("event_type") === "error", 1).otherwise(0).as("is_delete"))
        base.join(chg, Seq("user_id"), "full_outer")
          .filter(col("is_delete").isNull || col("is_delete") === 0)
          .select(col("user_id"),
            when(col("c_tus").isNull, col("b_value")).otherwise(col("c_value"))
              .as("value"),
            when(col("c_tus").isNull, col("b_tus")).otherwise(col("c_tus"))
              .as("state_us"),
            when(col("c_tus").isNull, "base").otherwise("changelog").as("src"))
    }
  }

  // ---------------------------------------------------------------- q162
  /** SCD type-2 dimension build — the warehouse-standard versioned
    * dimension: each user's tracked attribute (their latest event_type)
    * becomes a run of [valid_from, valid_to) rows, one per CHANGE of the
    * attribute, with the open current version carrying a NULL valid_to.
    * Consecutive duplicates collapse (a repeat of the same state extends
    * the open version rather than opening a new one).
    *
    * Shape: change points via LAG, validity intervals via LEAD, version
    * numbers via ROW_NUMBER — three window passes ALL partitioned by
    * user_id with compatible orderings, so they ride ONE exchange; no
    * self-joins, no driver state. At 100 TB this is exactly the
    * events→dimension compaction job, partitioned by the dimension key. */
  val q162Scd2: Q = Q.sql(
    "q162_scd2",
    """WITH e AS (
      |  SELECT user_id, event_type AS state, epoch_us(ts) AS tus, event_id,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY ts, event_id) AS prev
      |  FROM events
      |), ch AS (
      |  SELECT user_id, state, tus, event_id FROM e
      |  WHERE prev IS NULL OR prev <> state
      |)
      |SELECT user_id, state, tus AS valid_from_us,
      |  LEAD(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |    AS valid_to_us,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |    AS BIGINT) AS version,
      |  CASE WHEN LEAD(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |    IS NULL THEN 1 ELSE 0 END AS is_current
      |FROM ch""".stripMargin,
    "SCD2 versioned dimension: [valid_from, valid_to) rows per attribute change") {
    (s, dir) =>
      val ev = Tables(s, dir, "events").select(
        col("user_id"), col("event_type").as("state"),
        unix_micros(col("ts")).as("tus"), col("event_id"), col("ts"))
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ch = ev.withColumn("prev", lag(col("state"), 1).over(wo))
        .filter(col("prev").isNull || col("prev") =!= col("state"))
        .select(col("user_id"), col("state"), col("tus"), col("event_id"))
      val wc = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      ch.select(col("user_id"), col("state"), col("tus").as("valid_from_us"),
        lead(col("tus"), 1).over(wc).as("valid_to_us"),
        row_number().over(wc).cast("long").as("version"),
        when(lead(col("tus"), 1).over(wc).isNull, 1).otherwise(0)
          .as("is_current"))
  }

  // ---------------------------------------------------------------- q163
  /** Distribution drift (chi-square) — the data-quality monitor between
    * a reference window (days 1-15) and a live window (days 16-30): per
    * event_type the observed live count is scored against the count the
    * reference proportions predict, emitting the (o−e)²/e chi-square
    * contribution. PSI needs log (engines round transcendentals apart);
    * chi-square carries the same drift signal from exact integer counts
    * — each contribution is a fixed-order double expression over exact
    * bigints, bit-identical on both engines (the q135 lift-for-PMI
    * substitution discipline). Contributions stay PER-TYPE rows: a
    * global sum of doubles would reintroduce order dependence, and the
    * monitoring consumer thresholds per-cell anyway.
    *
    * Shape: one scan, conditional partial-agg per type, totals re-agg'd
    * from the bounded per-type histogram and broadcast back — the live
    * side never moves twice. */
  val q163DriftChisq: Q = {
    val cut = "TIMESTAMP '2024-01-16 00:00:00'"
    Q.sql(
      "q163_drift_chisq",
      s"""WITH h AS (
         |  SELECT event_type,
         |    CAST(SUM(CASE WHEN ts < $cut THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
         |    CAST(SUM(CASE WHEN ts >= $cut THEN 1 ELSE 0 END) AS BIGINT) AS live_n
         |  FROM events GROUP BY 1
         |), t AS (
         |  SELECT CAST(SUM(ref_n) AS BIGINT) AS ref_total,
         |         CAST(SUM(live_n) AS BIGINT) AS live_total FROM h
         |)
         |SELECT event_type, ref_n, live_n,
         |  CASE WHEN ref_n = 0 THEN NULL
         |       ELSE CAST(live_total AS DOUBLE) * ref_n / ref_total END
         |    AS expected,
         |  CASE WHEN ref_n = 0 THEN NULL
         |       ELSE (live_n - CAST(live_total AS DOUBLE) * ref_n / ref_total)
         |          * (live_n - CAST(live_total AS DOUBLE) * ref_n / ref_total)
         |          / (CAST(live_total AS DOUBLE) * ref_n / ref_total) END
         |    AS chi_contrib
         |FROM h CROSS JOIN t""".stripMargin,
      "chi-square distribution drift: reference vs live window per event_type") {
      (s, dir) =>
        val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
        val h = Tables(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(
            sum(when(col("ts") < cutoff, 1L).otherwise(0L)).as("ref_n"),
            sum(when(col("ts") >= cutoff, 1L).otherwise(0L)).as("live_n"))
        val t = h.agg(sum(col("ref_n")).as("ref_total"),
          sum(col("live_n")).as("live_total"))
        val e = col("live_total").cast("double") * col("ref_n") / col("ref_total")
        h.crossJoin(broadcast(t))
          .select(col("event_type"), col("ref_n"), col("live_n"),
            when(col("ref_n") === 0, lit(null)).otherwise(e).as("expected"),
            when(col("ref_n") === 0, lit(null))
              .otherwise((col("live_n") - e) * (col("live_n") - e) / e)
              .as("chi_contrib"))
    }
  }

  // ---------------------------------------------------------------- q165
  /** Periodicity detection — lag-24 autocorrelation of each type's
    * hourly event counts (the daily-seasonality check a pipeline runs
    * before trusting time-bucketed features). The hourly series comes
    * from a partial-agg histogram densified onto the type's own
    * min..max hour grid (q130's resample shape — missing hours count
    * 0, not absent), pairs form via LAG 24 over the grid, and Pearson r
    * reduces to SIX exact bigint sums (n, Σx, Σy, Σxy, Σx², Σy²) —
    * the final r is one fixed-order double expression over exact
    * integers, so the result is partition- and engine-independent
    * (counts are small enough that every product stays under 2^53).
    *
    * Shape: grid + lag + sums all ride one event_type shuffle; the
    * series length is bounded by the time span (720 rows/type here),
    * NEVER by the corpus — at 100 TB the histogram is the only thing
    * that moves past the map side. */
  val q165Autocorr: Q = Q.sql(
    "q165_autocorr",
    """WITH h AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT event_type, MIN(hr) AS h0, MAX(hr) AS h1 FROM h GROUP BY 1
      |), grid AS (
      |  SELECT event_type, unnest(range(h0, h1 + 1)) AS hr FROM span
      |), series AS (
      |  SELECT g.event_type, g.hr, CAST(COALESCE(h.c, 0) AS BIGINT) AS x
      |  FROM grid g LEFT JOIN h ON h.event_type = g.event_type AND h.hr = g.hr
      |), pairs AS (
      |  SELECT event_type, x,
      |    LAG(x, 24) OVER (PARTITION BY event_type ORDER BY hr) AS y
      |  FROM series
      |), sums AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy
      |  FROM pairs WHERE y IS NOT NULL GROUP BY 1
      |)
      |SELECT event_type, n AS n_pairs, sx, sy,
      |  CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL
      |       ELSE CAST(n * sxy - sx * sy AS DOUBLE)
      |          / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |             * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END
      |    AS r_lag24
      |FROM sums""".stripMargin,
    "lag-24 autocorrelation of hourly counts: daily-seasonality detection") {
    (s, dir) =>
      val h = Tables(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hr"))
        .agg(count(lit(1)).as("c"))
      val grid = h.groupBy(col("event_type"))
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"))).as("hr"))
      val series = grid.join(h, Seq("event_type", "hr"), "left")
        .select(col("event_type"), col("hr"),
          coalesce(col("c"), lit(0L)).cast("long").as("x"))
      val wl = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      val pairs = series
        .withColumn("y", lag(col("x"), 24).over(wl))
        .filter(col("y").isNotNull)
      val sums = pairs.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      sums.select(col("event_type"), col("n").as("n_pairs"),
        col("sx"), col("sy"),
        when(vx <= 0 || vy <= 0, lit(null))
          .otherwise((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
          .as("r_lag24"))
  }

  // ---------------------------------------------------------------- q168
  /** Point-in-time (AS OF) dimension lookup — the consumption side of
    * q162's SCD2 build, composed WHOLE (the q116/q155 discipline): each
    * purchase joins the state-version row that was valid at its event
    * time (valid_from ≤ ts < valid_to, open version unbounded). Since
    * the dimension derives from the same event stream, every purchase
    * lands in exactly ONE version — the inner join loses nothing
    * (AnalyticsSpec pins the bijection).
    *
    * Shape: a user-keyed equi-join with the validity range as a
    * RESIDUAL predicate — fan-out bounded by versions-per-user (the
    * dimension is the COMPACTED changelog, orders of magnitude smaller
    * than the fact side), co-partitioned on user_id, AQE free to pick
    * broadcast when the dimension fits. The union+window as-of (q04)
    * is the alternative spelling when the dimension is too wide to
    * join; with SCD2's bounded version counts the equi+residual join
    * is the standard warehouse plan. */
  val q168PitJoin: Q = Q.sql(
    "q168_pit_join",
    """WITH e AS (
      |  SELECT user_id, event_type AS state, epoch_us(ts) AS tus, event_id,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY ts, event_id) AS prev
      |  FROM events
      |), ch AS (
      |  SELECT user_id, state, tus, event_id FROM e
      |  WHERE prev IS NULL OR prev <> state
      |), dim AS (
      |  SELECT user_id, state, tus AS valid_from_us,
      |    LEAD(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |      AS valid_to_us,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |      AS BIGINT) AS version
      |  FROM ch
      |), p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS tus, value
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.event_id, p.user_id, p.value, d.state, d.version,
      |  d.valid_from_us
      |FROM p JOIN dim d ON d.user_id = p.user_id
      |  AND p.tus >= d.valid_from_us
      |  AND (d.valid_to_us IS NULL OR p.tus < d.valid_to_us)""".stripMargin,
    "point-in-time join: each purchase against its SCD2 version valid at ts") {
    (s, dir) =>
      val dim = q162Scd2.run(s, dir)
        .select(col("user_id"), col("state"), col("valid_from_us"),
          col("valid_to_us"), col("version"))
      val p = Tables(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tus"), col("value"))
      p.as("p").join(dim.as("d"),
          col("p.user_id") === col("d.user_id") &&
            col("p.tus") >= col("d.valid_from_us") &&
            (col("d.valid_to_us").isNull ||
              col("p.tus") < col("d.valid_to_us")))
        .select(col("p.event_id").as("event_id"),
          col("p.user_id").as("user_id"), col("p.value").as("value"),
          col("d.state").as("state"), col("d.version").as("version"),
          col("d.valid_from_us").as("valid_from_us"))
  }

  // ---------------------------------------------------------------- q169
  /** Session transition matrix — first-order Markov counts of the
    * event_type → next event_type step WITHIN q05's behavioral
    * sessions (the user-journey model product analytics fits; q135's
    * collocation shape applied to the event stream). Transition
    * probability is the exact bigint rational n(a→b)/Σ_b n(a→b) — one
    * fixed-order double division per OUTPUT row of the
    * types²-bounded matrix, never a float fold over the corpus.
    *
    * Shape: sessionize + LEAD ride the user_id shuffle q05 already
    * pays, the pair roll-up partial-aggregates into the bounded
    * matrix, and the per-source totals join is over that matrix only
    * (types² rows) — nothing corpus-sized past the map side. */
  val q169Transitions: Q = Q.sql(
    "q169_transitions",
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(CAST(ts AS TIMESTAMP))
      |              - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged
      |), steps AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id, session_id
      |                           ORDER BY ts, event_id) AS to_type
      |  FROM sess
      |), m AS (
      |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2
      |), tot AS (
      |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_out FROM m GROUP BY 1
      |)
      |SELECT m.from_type, m.to_type, m.n,
      |  CAST(m.n AS DOUBLE) / t.n_out AS p
      |FROM m JOIN tot t ON t.from_type = m.from_type""".stripMargin,
    "session-scoped Markov transition matrix with exact-rational probabilities") {
    (s, dir) =>
      val sess = graft.ops.Sessionize(
        Tables(s, dir, "events"), Seq("user_id"), "ts",
        gapMicros = 30L * 60 * 1000000, tieBreak = Seq("event_id"))
      val ws = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts"), col("event_id"))
      val m = sess
        .select(col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(ws).as("to_type"))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = m.groupBy(col("from_type")).agg(sum(col("n")).as("n_out"))
      m.join(tot, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / col("n_out")).as("p"))
  }

  // ---------------------------------------------------------------- q170
  /** Incremental view maintenance — the aggregate-refresh twin of
    * q161's row-level MERGE: a materialized per-(user, type) count/sum
    * view (state before the cutoff) is refreshed by folding in ONLY the
    * delta partition (events at/after the cutoff), never rescanning the
    * base. COUNT and SUM are self-maintainable under inserts — the
    * refresh is a co-partitioned full-outer merge of two partial
    * aggregates with exact-decimal addition (order-independent), and a
    * `refreshed` flag marks the touched keys (the rows a real engine
    * would rewrite).
    *
    * Shape: at 100 TB the base side is the stored view (O(keys), never
    * re-aggregated — here it is recomputed only because the gate needs
    * a closed form) and the delta aggregation touches the new partition
    * alone; the merge shuffles O(keys) + O(delta keys). AnalyticsSpec
    * proves refresh ≡ full recompute — the IVM contract. */
  val q170IvmRefresh: Q = {
    val cut = "TIMESTAMP '2024-01-16 00:00:00'"
    Q.sql(
      "q170_ivm_refresh",
      s"""WITH b AS (
         |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n0,
         |    SUM(CAST(value AS DECIMAL(28,2))) AS s0
         |  FROM events WHERE ts < $cut GROUP BY 1, 2
         |), d AS (
         |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS dn,
         |    SUM(CAST(value AS DECIMAL(28,2))) AS ds
         |  FROM events WHERE ts >= $cut GROUP BY 1, 2
         |)
         |SELECT COALESCE(b.user_id, d.user_id) AS user_id,
         |  COALESCE(b.event_type, d.event_type) AS event_type,
         |  COALESCE(b.n0, 0) + COALESCE(d.dn, 0) AS n,
         |  CAST(COALESCE(b.s0, 0) + COALESCE(d.ds, 0) AS DOUBLE) AS value_sum,
         |  CASE WHEN d.user_id IS NULL THEN 0 ELSE 1 END AS refreshed
         |FROM b FULL OUTER JOIN d
         |  ON d.user_id = b.user_id AND d.event_type = b.event_type""".stripMargin,
      "incremental view refresh: delta partial-aggs merged into the base view") {
      (s, dir) =>
        val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
        val ev = Tables(s, dir, "events")
        def agg(df: DataFrame, n: String, sm: String): DataFrame =
          df.groupBy(col("user_id"), col("event_type"))
            .agg(count(lit(1)).as(n), sum(dec(col("value"))).as(sm))
        val base = agg(ev.filter(col("ts") < cutoff), "n0", "s0")
        val delta = agg(ev.filter(col("ts") >= cutoff), "dn", "ds")
        base.join(delta, Seq("user_id", "event_type"), "full_outer")
          .select(col("user_id"), col("event_type"),
            (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n"),
            (coalesce(col("s0"), lit(0).cast("decimal(28,2)"))
              + coalesce(col("ds"), lit(0).cast("decimal(28,2)")))
              .cast("double").as("value_sum"),
            when(col("dn").isNull, 0).otherwise(1).as("refreshed"))
    }
  }

  // ---------------------------------------------------------------- q171
  /** Sliding-window distinct via HLL pane MERGE — the reason sketches
    * exist in windowed systems: the 6-hour distinct-user estimate per
    * hour is built by elementwise-max-merging the SIX per-hour register
    * arrays (panes), never re-touching raw events per window. The
    * DuckDB oracle recomputes each window's registers DIRECTLY from the
    * raw 6-hour slice — so the hash gate IS the mergeability theorem
    * (merge of panes ≡ sketch of the union) checked end-to-end.
    *
    * Shape: one hourly partial-agg pass (1 KiB per pane), then the
    * pane merge runs over the BOUNDED hour grid (q113's documented
    * bounded-input global window — 720 rows here, O(time span) always,
    * never O(corpus)); empty hours merge as the all-zero neutral
    * array. At 100 TB only the hourly register frame moves past the
    * map side, and each window's merge is 6 × 1 KiB of arithmetic. */
  val q171HllPaneMerge: Q = Q.sql(
    "q171_hll_pane_merge",
    """WITH b AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr,
      |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM events
      |), span AS (
      |  SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM b
      |), grid AS (
      |  SELECT unnest(range(h0 + 5, h1 + 1)) AS hr FROM span
      |), win AS (
      |  SELECT g.hr, b.h FROM grid g JOIN b ON b.hr BETWEEN g.hr - 5 AND g.hr
      |), rg AS (
      |  SELECT hr, h // 1125899906842624 AS idx,
      |    MAX(CASE WHEN h % 1125899906842624 = 0 THEN 51
      |             ELSE 51 - length(bin(h % 1125899906842624)) END) AS reg
      |  FROM win GROUP BY 1, 2
      |), fullgrid AS (
      |  SELECT g.hr, i.idx
      |  FROM grid g CROSS JOIN (SELECT unnest(range(0, 1024)) AS idx) i
      |), regs AS (
      |  SELECT f.hr, COALESCE(r.reg, 0) AS reg
      |  FROM fullgrid f LEFT JOIN rg r ON r.hr = f.hr AND r.idx = f.idx
      |), agg AS (
      |  SELECT hr,
      |    CAST(SUM(CAST(1 AS BIGINT) << (51 - reg)) AS BIGINT) AS s_sum,
      |    CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
      |  FROM regs GROUP BY 1
      |)
      |SELECT CAST(hr * 3600 AS BIGINT) AS bucket_start, v_zero, s_sum,
      |  (CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 1024.0))
      |    * (CAST(1048576 AS DOUBLE) * 2251799813685248) / s_sum AS hll_raw
      |FROM agg""".stripMargin,
    "sliding 6-hour distinct estimate by merging per-hour HLL register panes") {
    (s, dir) =>
      val hourly = Tables(s, dir, "events")
        .groupBy(expr("unix_micros(ts) div 3600000000").as("hr"))
        .agg(graft.functions.Hll.registers(
          graft.ops.Text.baseHash(col("user_id").cast("string")), 10)
          .as("regs"))
      val grid = hourly.agg(min(col("hr")).as("g0"), max(col("hr")).as("g1"))
        .select(explode(sequence(col("g0"), col("g1"))).as("hr"))
      val panes = grid.join(hourly, Seq("hr"), "left")
        .withColumn("regs",
          coalesce(col("regs"), array_repeat(lit(0), 1024)))
      // bounded-input global window (q113 discipline): the hour grid is
      // O(time span), 720 rows here — never the corpus
      val w = Window.orderBy(col("hr")).rowsBetween(-5, 0)
      panes
        .withColumn("panes", collect_list(col("regs")).over(w))
        .withColumn("nh", count(lit(1)).over(w))
        .filter(col("nh") === 6)
        .withColumn("m", expr("aggregate(panes, array_repeat(0, 1024)," +
          " (acc, a) -> zip_with(acc, a, (x, y) -> greatest(x, y)))"))
        .select((col("hr") * 3600).cast("long").as("bucket_start"),
          expr("cast(size(filter(m, r -> r = 0)) as bigint)").as("v_zero"),
          expr("aggregate(m, cast(0 as bigint)," +
            " (acc, r) -> acc + shiftleft(cast(1 as bigint), 51 - r))")
            .as("s_sum"),
          ((lit(0.7213) / (lit(1.0) + lit(1.079) / lit(1024.0)))
            * (lit(1048576.0) * lit(2.251799813685248e15))
            / col("s_sum")).as("hll_raw"))
  }

  // ---------------------------------------------------------------- q173
  /** Robust outlier detection — the modified z-score M = 0.6745·(x −
    * median)/MAD (Iglewicz–Hoaglin), the robust-statistics member
    * beside q133's moment-based z-score (one far outlier inflates a
    * std; it cannot move a median). Both the median and the MAD come
    * from q160's bounded-histogram discipline: values bucket to exact
    * integer centi-units, each percentile is a cumsum window over the
    * per-(type, bucket) histogram — TWO bounded passes (values, then
    * absolute deviations), never a corpus sort — and the caps broadcast
    * back for a map-side score. M is one fixed-order double expression
    * over exact integers; a zero MAD (constant type) yields NULL, not a
    * division blow-up. */
  val q173MadOutliers: Q = Q.sql(
    "q173_mad_outliers",
    """WITH b AS (
      |  SELECT event_id, event_type,
      |    CAST(floor(value * 100) AS BIGINT) AS bk
      |  FROM events
      |), h1 AS (
      |  SELECT event_type, bk, COUNT(*) AS c FROM b GROUP BY 1, 2
      |), c1 AS (
      |  SELECT event_type, bk,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY bk
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM h1
      |), med AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN cm >= (n + 1) // 2 THEN bk END) AS med_bk
      |  FROM c1 GROUP BY 1
      |), d AS (
      |  SELECT b.event_id, b.event_type, b.bk, m.med_bk,
      |    abs(b.bk - m.med_bk) AS dv
      |  FROM b JOIN med m USING (event_type)
      |), h2 AS (
      |  SELECT event_type, dv, COUNT(*) AS c FROM d GROUP BY 1, 2
      |), c2 AS (
      |  SELECT event_type, dv,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY dv
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM h2
      |), mad AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN cm >= (n + 1) // 2 THEN dv END) AS mad_bk
      |  FROM c2 GROUP BY 1
      |)
      |SELECT d.event_id, d.event_type, d.bk, d.med_bk, a.mad_bk,
      |  CASE WHEN a.mad_bk = 0 THEN NULL
      |       ELSE CAST(0.6745 AS DOUBLE) * (d.bk - d.med_bk) / a.mad_bk END
      |    AS mz,
      |  CASE WHEN a.mad_bk = 0 THEN FALSE
      |       ELSE abs(CAST(0.6745 AS DOUBLE) * (d.bk - d.med_bk) / a.mad_bk)
      |            > 3.5 END AS is_outlier
      |FROM d JOIN mad a USING (event_type)""".stripMargin,
    "modified z-score outliers: median + MAD from bounded per-type histograms") {
    (s, dir) =>
      val b = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("bk"))
      def pctl(hist: DataFrame, vc: String, out: String): DataFrame = {
        val wCum = Window.partitionBy(col("event_type")).orderBy(col(vc))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("event_type"))
        hist
          .withColumn("cm", sum(col("c")).over(wCum))
          .withColumn("n", sum(col("c")).over(wAll))
          .groupBy(col("event_type"))
          .agg(min(when(col("cm") >= expr("(n + 1) div 2"), col(vc)))
            .as(out))
      }
      val med = pctl(
        b.groupBy(col("event_type"), col("bk")).agg(count(lit(1)).as("c")),
        "bk", "med_bk")
      val d = b.join(broadcast(med), Seq("event_type"))
        .withColumn("dv", abs(col("bk") - col("med_bk")))
      val mad = pctl(
        d.groupBy(col("event_type"), col("dv")).agg(count(lit(1)).as("c")),
        "dv", "mad_bk")
      val mz = lit(0.6745) * (col("bk") - col("med_bk")) / col("mad_bk")
      d.join(broadcast(mad), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("bk"), col("med_bk"),
          col("mad_bk"),
          when(col("mad_bk") === 0, lit(null)).otherwise(mz).as("mz"),
          when(col("mad_bk") === 0, lit(false))
            .otherwise(abs(mz) > 3.5).as("is_outlier"))
  }

  // ---------------------------------------------------------------- q174
  /** A/B conversion test — the experimentation primitive: users split
    * deterministically into two arms (user_id parity — in production a
    * salted hash bucket, q76's draw), per-arm user-level conversion
    * (any purchase), and the two-proportion pooled z statistic. Every
    * count is an exact bigint; rates and z are fixed-order double
    * expressions over those integers (sqrt is correctly-rounded IEEE on
    * both engines), so the whole report is hash-stable. Degenerate
    * pools (0% or 100% conversion) yield NULL rather than a division
    * blow-up.
    *
    * Shape: one user-keyed partial-agg pass (conversion flag via MAX),
    * then a single-row conditional roll-up — nothing but the per-user
    * frame ever shuffles, and at 100 TB the per-user reduction is the
    * same map-side combine every funnel query here rides. */
  val q174AbTest: Q = Q.sql(
    "q174_ab_test",
    """WITH u AS (
      |  SELECT user_id, user_id % 2 AS arm,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1, 2
      |), s AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_b
      |  FROM u
      |)
      |SELECT n_a, x_a, n_b, x_b,
      |  CAST(x_a AS DOUBLE) / n_a AS p_a,
      |  CAST(x_b AS DOUBLE) / n_b AS p_b,
      |  CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN NULL
      |       ELSE (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
      |            / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
      |                 * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
      |                 * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
      |  END AS z
      |FROM s""".stripMargin,
    "two-proportion A/B conversion z-test from exact per-arm counts") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("conv"))
      val st = u.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0)).cast("long")
          .as("x_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0)).cast("long")
          .as("x_b"))
      val pa = col("x_a").cast("double") / col("n_a")
      val pb = col("x_b").cast("double") / col("n_b")
      val pp = (col("x_a") + col("x_b")).cast("double") /
        (col("n_a") + col("n_b"))
      st.select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        pa.as("p_a"), pb.as("p_b"),
        when(col("x_a") + col("x_b") === 0 ||
          col("x_a") + col("x_b") === col("n_a") + col("n_b"), lit(null))
          .otherwise((pa - pb) /
            sqrt(pp * (lit(1.0) - pp) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
          .as("z"))
  }

  // ---------------------------------------------------------------- q175
  /** Time-weighted average (TWAP) — each user's value treated as a step
    * function held until their next event, averaged by HELD TIME rather
    * than by event count (the metrics/position-average the plain AVG
    * silently gets wrong on irregular sampling). Exactness: value in
    * centi-units (bigint) × integer µs duration stays under 2^63 per
    * term (≤ 2.6e16), and the per-user sum accumulates in
    * DECIMAL(38,0) — exact at any event count — so the final
    * double-division is one fixed-order expression over exact numbers.
    * A user's last event has no successor and is excluded (no held
    * interval); single-event users drop out entirely on both engines.
    *
    * Shape: LEAD + roll-up on one user_id shuffle. */
  val q175Twap: Q = Q.sql(
    "q175_twap",
    """WITH e AS (
      |  SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS vc,
      |    epoch_us(ts) AS tus, event_id
      |  FROM events
      |), h AS (
      |  SELECT user_id, vc,
      |    LEAD(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |      - tus AS dur
      |  FROM e
      |)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_holds,
      |  CAST(SUM(dur) AS BIGINT) AS held_us,
      |  CAST(SUM(CAST(vc * dur AS DECIMAL(38,0))) AS DOUBLE)
      |    / CAST(SUM(dur) AS DOUBLE) / 100 AS twap
      |FROM h WHERE dur IS NOT NULL GROUP BY 1""".stripMargin,
    "time-weighted average value per user from exact integer hold durations") {
    (s, dir) =>
      val e = Tables(s, dir, "events").select(col("user_id"),
        floor(col("value") * 100).cast("long").as("vc"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      e.withColumn("dur", lead(col("tus"), 1).over(w) - col("tus"))
        .filter(col("dur").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_holds"),
          sum(col("dur")).as("held_us"),
          (sum((col("vc") * col("dur")).cast("decimal(38,0)")).cast("double")
            / sum(col("dur")).cast("double") / 100).as("twap"))
  }

  // ---------------------------------------------------------------- q176
  /** Concentration report (Gini) — how unevenly document mass is
    * distributed within each source, the inequality statistic a data
    * team reads before setting mixture weights (q120): a source whose
    * char mass sits in a few giant documents behaves differently under
    * packing (q87) and token budgets (q94) than a uniform one. Computed
    * ENTIRELY from the bounded per-(source, n_chars) value histogram —
    * rank sums over a tie group are closed-form (c·F₀ + c(c+1)/2), so
    * the sorted-corpus window the textbook formula implies never runs;
    * every accumulator is an exact bigint (products bounded ≤ ~6e14 at
    * the 100× blow-up — documented headroom under 2^63) and the final
    * Gini is one fixed-order double expression. All-empty sources
    * yield NULL, not a division blow-up.
    *
    * Shape: partial-agg histogram, cumsum window over the BOUNDED
    * value domain, exact roll-up — the q160 discipline pointed at an
    * inequality measure. */
  val q176Gini: Q = Q.sql(
    "q176_gini",
    """WITH h AS (
      |  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2
      |), cum AS (
      |  SELECT source, v, c,
      |    COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS f0
      |  FROM h
      |), s AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(v * c) AS BIGINT) AS t,
      |    CAST(SUM(v * (c * f0 + (c * (c + 1)) // 2)) AS BIGINT) AS s1
      |  FROM cum GROUP BY 1
      |)
      |SELECT source, n AS n_docs, t AS total_chars,
      |  CASE WHEN t = 0 THEN NULL
      |       ELSE CAST(2 * s1 - (n + 1) * t AS DOUBLE)
      |            / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)) END AS gini
      |FROM s""".stripMargin,
    "per-source Gini concentration of document mass from bounded histograms") {
    (s, dir) =>
      val h = Tables(s, dir, "documents")
        .groupBy(col("source"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("c"))
      val wPrev = Window.partitionBy(col("source")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = h.withColumn("f0",
        coalesce(sum(col("c")).over(wPrev), lit(0L)))
      val st = cum.groupBy(col("source"))
        .agg(sum(col("c")).as("n"),
          sum(col("v") * col("c")).as("t"),
          sum(col("v") * (col("c") * col("f0")
            + expr("(c * (c + 1)) div 2"))).as("s1"))
      st.select(col("source"), col("n").as("n_docs"),
        col("t").as("total_chars"),
        when(col("t") === 0, lit(null))
          .otherwise((lit(2) * col("s1") - (col("n") + 1) * col("t"))
            .cast("double")
            / (col("n").cast("double") * col("t").cast("double")))
          .as("gini"))
  }

  // ---------------------------------------------------------------- q177
  /** Market-basket co-occurrence — the recsys/affinity-analysis member:
    * part pairs ordered together in ≥ 2 baskets, with exact support
    * counts and the two standard association scores — cosine affinity
    * c_ab/√(c_a·c_b) and lift c_ab·N/(c_a·c_b) — both fixed-order
    * double expressions over exact bigints (q135's transcendental-free
    * discipline: lift ranks identically to PMI).
    *
    * Shape: the pair join is a SELF-JOIN ON THE BASKET KEY, so fan-out
    * is bounded by items-per-basket squared (≤ 13 items here, ≤ C(13,2)
    * pairs per order — a data constant, never corpus-dimensional), then
    * one partial-agg roll-up; item frequencies join the pair frame
    * (vocabulary-sized) and the 1-row basket total broadcasts. The
    * itemset-mining support cut keeps the output the signal, not the
    * noise floor. */
  val q177Copurchase: Q = Q.sql(
    "q177_copurchase",
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |), freq AS (
      |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY 1
      |), t AS (
      |  SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items
      |), pairs AS (
      |  SELECT a.pk AS pk_a, b.pk AS pk_b, CAST(COUNT(*) AS BIGINT) AS c_ab
      |  FROM items a JOIN items b ON b.ok = a.ok AND b.pk > a.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |)
      |SELECT pk_a, pk_b, c_ab, fa.c AS c_a, fb.c AS c_b,
      |  CAST(c_ab AS DOUBLE)
      |    / (sqrt(CAST(fa.c AS DOUBLE)) * sqrt(CAST(fb.c AS DOUBLE)))
      |    AS cosine,
      |  CAST(c_ab AS DOUBLE) * n_orders / (fa.c * fb.c) AS lift
      |FROM pairs
      |JOIN freq fa ON fa.pk = pairs.pk_a
      |JOIN freq fb ON fb.pk = pairs.pk_b
      |CROSS JOIN t""".stripMargin,
    "market-basket co-occurrence pairs with exact support, cosine and lift") {
    (s, dir) =>
      // r11 (guide §2.3): basket self-join → per-order sorted item array
      // + map-side pair explode; frequencies and the order total come off
      // the same array frame, so lineitem is scanned/deduped once
      val arr = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .groupBy(col("ok"))
        .agg(sort_array(collect_set(col("pk"))).as("items"))
      val freq = arr.select(explode(col("items")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("c"))
      val t = arr.agg(count(lit(1)).as("n_orders"))
      val pairs = arr.select(explode(pairCombos(col("items"))).as("p"))
        .groupBy(col("p.x").as("pk_a"), col("p.y").as("pk_b"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 2)
      pairs
        .join(freq.select(col("pk").as("pk_a"), col("c").as("c_a")), "pk_a")
        .join(freq.select(col("pk").as("pk_b"), col("c").as("c_b")), "pk_b")
        .crossJoin(broadcast(t))
        .select(col("pk_a"), col("pk_b"), col("c_ab"), col("c_a"), col("c_b"),
          (col("c_ab").cast("double")
            / (sqrt(col("c_a").cast("double"))
              * sqrt(col("c_b").cast("double")))).as("cosine"),
          (col("c_ab").cast("double") * col("n_orders")
            / (col("c_a") * col("c_b"))).as("lift"))
  }

  // ---------------------------------------------------------------- q178
  /** Skyline (Pareto frontier) — the multi-criteria "best trade-off"
    * operator (Börzsönyi '01): every order not DOMINATED on
    * (total price, order recency) — no other order is ≥ on both axes
    * and strictly better on one. Price quantizes to exact centi-units
    * and the date to epoch days, so dominance is pure integer compare.
    *
    * Scale shape — the naive spelling is one corpus-wide sort window;
    * this plan is the standard distributed two-phase skyline instead:
    * (1) a BOUNDED price-band histogram (one partial-agg pass) yields
    * each band's max date, whose suffix running-max forms a coarse
    * frontier of O(bands) rows that BROADCASTS back; (2) a map-side
    * prune drops every point dominated by a strictly-higher band's
    * maximum (any such point loses on price by construction) — in
    * practice almost the whole corpus; (3) the exact window pass runs
    * only over the pruned survivors (frontier + band-boundary
    * residue). The final window is q113's documented bounded-input
    * global window. The DuckDB oracle computes the same skyline from
    * the closed-form single-window spelling — agreement proves the
    * prune drops no frontier point. */
  val q178Skyline: Q = Q.sql(
    "q178_skyline",
    """WITH pts AS (
      |  SELECT o_orderkey,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS pc,
      |    epoch_us(o_orderdate) // 86400000000 AS d
      |  FROM orders
      |), w AS (
      |  SELECT o_orderkey, pc, d,
      |    MAX(d) OVER (ORDER BY pc DESC
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS md_strict,
      |    MAX(d) OVER (PARTITION BY pc) AS md_peer
      |  FROM pts
      |)
      |SELECT o_orderkey, pc, CAST(d AS BIGINT) AS d
      |FROM w
      |WHERE (md_strict IS NULL OR md_strict < d) AND d = md_peer""".stripMargin,
    "Pareto skyline on (price, recency) via band-prune + exact residual pass") {
    (s, dir) =>
      val pts = Tables(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("pc"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("d"))
        .withColumn("bkt", expr("pc div 1000000"))
      // phase 1: per price-band max date; suffix running max over the
      // O(bands) frame = the coarse frontier (broadcast back)
      val wb = Window.orderBy(col("bkt").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val bands = pts.groupBy(col("bkt")).agg(max(col("d")).as("bd"))
        .withColumn("bd_above", max(col("bd")).over(wb))
        .select(col("bkt"), col("bd_above"))
      // phase 2: map-side prune — a strictly-higher band's max wins on
      // price by construction, so bd_above >= d is certain dominance
      val survivors = pts.join(broadcast(bands), Seq("bkt"))
        .filter(col("bd_above").isNull || col("bd_above") < col("d"))
      // phase 3a: per-BAND exact skyline first (PARTITIONED windows — the
      // round-9 growth gate measured the band-pruned residue still ~9×
      // per corpus decade because the TOP band is never pruned; dominance
      // is transitive, so dropping in-band-dominated points loses no
      // frontier point and shrinks the global pass to O(bands · log n)
      // expected survivors)
      val wsb = Window.partitionBy(col("bkt")).orderBy(col("pc").desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val wpb = Window.partitionBy(col("bkt"), col("pc"))
      val bandSky = survivors
        .withColumn("md_strict_b", max(col("d")).over(wsb))
        .withColumn("md_peer_b", max(col("d")).over(wpb))
        .filter((col("md_strict_b").isNull || col("md_strict_b") < col("d"))
          && col("d") === col("md_peer_b"))
        .drop("md_strict_b", "md_peer_b")
      // phase 3b: exact skyline over the per-band skylines (bounded-input
      // global window, q113 discipline)
      val ws = Window.orderBy(col("pc").desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val wp = Window.partitionBy(col("pc"))
      bandSky
        .withColumn("md_strict", max(col("d")).over(ws))
        .withColumn("md_peer", max(col("d")).over(wp))
        .filter((col("md_strict").isNull || col("md_strict") < col("d")) &&
          col("d") === col("md_peer"))
        .select(col("o_orderkey"), col("pc"), col("d"))
  }

  // ---------------------------------------------------------------- q179
  /** Per-user activity trend — ordinary-least-squares slope, intercept
    * and R² of daily event value over time, the per-entity trend
    * detector (q165's six-exact-sums machinery pointed at regression
    * instead of correlation). The regressor is the day offset from the
    * user's own first day (≤ 30 here) and the response the daily value
    * sum in centi-units, so every moment sum — n, Σt, Σy, Σty, Σt²,
    * Σy² — is an exact bigint with documented headroom, and
    * slope/intercept/R² are fixed-order double expressions over exact
    * integers. Users with a single active day (zero time variance)
    * emit NULLs. R² = (nΣty−ΣtΣy)² / ((nΣt²−(Σt)²)(nΣy²−(Σy)²)) —
    * both factors exact, one double division.
    *
    * Shape: daily partial-agg roll-up, then moment sums — both on the
    * user_id key; nothing holds a per-user series in memory. */
  val q179TrendOls: Q = Q.sql(
    "q179_trend_ols",
    """WITH daily AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS yc
      |  FROM events GROUP BY 1, 2
      |), ctr AS (
      |  SELECT user_id, day - MIN(day) OVER (PARTITION BY user_id) AS t, yc
      |  FROM daily
      |), m AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(yc) AS BIGINT) AS sy,
      |    CAST(SUM(t * yc) AS BIGINT) AS sty,
      |    CAST(SUM(t * t) AS BIGINT) AS stt,
      |    CAST(SUM(yc * yc) AS BIGINT) AS syy
      |  FROM ctr GROUP BY 1
      |)
      |SELECT user_id, n AS n_days,
      |  CASE WHEN n * stt - st * st = 0 THEN NULL
      |       ELSE CAST(n * sty - st * sy AS DOUBLE) / (n * stt - st * st) / 100
      |  END AS slope_per_day,
      |  CASE WHEN n * stt - st * st = 0 THEN NULL
      |       ELSE (CAST(sy AS DOUBLE) / n
      |             - CAST(n * sty - st * sy AS DOUBLE) / (n * stt - st * st)
      |               * st / n) / 100
      |  END AS intercept,
      |  CASE WHEN n * stt - st * st = 0 OR n * syy - sy * sy = 0 THEN NULL
      |       ELSE CAST(n * sty - st * sy AS DOUBLE)
      |            * (n * sty - st * sy)
      |            / (CAST(n * stt - st * st AS DOUBLE) * (n * syy - sy * sy))
      |  END AS r2
      |FROM m""".stripMargin,
    "per-user OLS trend: slope/intercept/R² from exact integer moment sums") {
    (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("yc"))
      val wMin = Window.partitionBy(col("user_id"))
      val ctr = daily.select(col("user_id"),
        (col("day") - min(col("day")).over(wMin)).as("t"), col("yc"))
      val m = ctr.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("t")).as("st"), sum(col("yc")).as("sy"),
          sum(col("t") * col("yc")).as("sty"),
          sum(col("t") * col("t")).as("stt"),
          sum(col("yc") * col("yc")).as("syy"))
      val dt = col("n") * col("stt") - col("st") * col("st")
      val dy = col("n") * col("syy") - col("sy") * col("sy")
      val cov = col("n") * col("sty") - col("st") * col("sy")
      val slope = cov.cast("double") / dt
      m.select(col("user_id"), col("n").as("n_days"),
        when(dt === 0, lit(null)).otherwise(slope / 100).as("slope_per_day"),
        when(dt === 0, lit(null))
          .otherwise((col("sy").cast("double") / col("n")
            - slope * col("st") / col("n")) / 100).as("intercept"),
        when(dt === 0 || dy === 0, lit(null))
          .otherwise(cov.cast("double") * cov / (dt.cast("double") * dy))
          .as("r2"))
  }

  // ---------------------------------------------------------------- q180
  /** Grid-partitioned spatial join — the geo/metric-space member: all
    * point pairs within L∞ radius r, via the classic cell-bucketed
    * plan. Points derive deterministically from the user population
    * (md5 coordinates — engine-portable, the house 60-bit hash mod the
    * domain), each LEFT point replicates to its 3×3 neighbor cells
    * (constant fan-out), candidates meet RIGHT points in their HOME
    * cell through one EQUI-join on the cell key, and the exact
    * distance predicate filters residually. A pair is generated
    * exactly once (in the right point's home cell, a < b orienting),
    * so no dedup pass exists.
    *
    * The oracle is the brute-force THETA join — so the hash gate
    * proves the grid decomposition is lossless: every in-radius pair
    * and nothing else. At 100 TB the theta spelling is a cross join;
    * the grid spelling shuffles each point 9× on a key whose
    * selectivity is the cell occupancy — the standard distributed
    * spatial-join shape (cell size = r keeps the 3×3 neighborhood
    * sufficient and the candidate set sharp). */
  val q180SpatialJoin: Q = {
    // L∞ radius; cell size = r ⇒ 3×3 neighborhood suffices. 50k (5% of
    // the domain side) keeps the smoke fixture's ~50-point population
    // from going pair-free.
    val r = 50000L
    Q.sql(
      "q180_spatial_join",
      s"""WITH u AS (
         |  SELECT DISTINCT user_id FROM events
         |), pts AS (
         |  SELECT user_id,
         |    ('0x' || substr(md5('x' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
         |      % 1000000 AS x,
         |    ('0x' || substr(md5('y' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
         |      % 1000000 AS y
         |  FROM u
         |)
         |SELECT a.user_id AS user_a, b.user_id AS user_b,
         |  a.x - b.x AS dx, a.y - b.y AS dy,
         |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
         |FROM pts a JOIN pts b
         |  ON b.user_id > a.user_id
         |  AND abs(a.x - b.x) <= $r AND abs(a.y - b.y) <= $r""".stripMargin,
      "all point pairs within L-inf radius via a 3x3 grid-cell equi-join") {
      (s, dir) =>
        // shared grid kernel (graft.ops.Spatial; domain pinned to the
        // oracle's 10⁶ — the density measurement twin scales it)
        val pts = graft.ops.Spatial.points(
          Tables(s, dir, "events").select(col("user_id")).distinct(),
          "user_id", 1000000L)
        graft.ops.Spatial.gridNeighbors(pts, r)
          .filter(col("ub") > col("ua"))
          .select(col("ua").as("user_a"), col("ub").as("user_b"),
            (col("ax") - col("bx")).as("dx"),
            (col("ay") - col("by")).as("dy"),
            ((col("ax") - col("bx")) * (col("ax") - col("bx"))
              + (col("ay") - col("by")) * (col("ay") - col("by")))
              .as("dist2"))
    }
  }

  // ---------------------------------------------------------------- q181
  /** Pattern with NEGATION — "a purchase preceded by a view with NO
    * error in between", the MATCH_RECOGNIZE-class refinement plain
    * funnels (q115/q156) can't express: the absence of an event is not
    * a join. Spelling: one user-ordered pass carries a running error
    * count (strictly-before frame), a second stacked window
    * forward-fills the count AS OF the latest view (`last_value …
    * IGNORE NULLS` — q130's LOCF shape), and the negation is then pure
    * arithmetic: `errors_before(purchase) − errors_before(view) = 0`.
    * No anti-join, no band join, no self-join — the absent-event test
    * costs two subtractions. Purchases with no prior view keep NULLs
    * (the un-matchable case stays visible).
    *
    * Shape: both window layers share ONE user_id exchange (PlanSpec);
    * the strictly-before error frame makes same-timestamp boundaries
    * deterministic under the (ts, event_id) total order. */
  val q181PatternNegation: Q = Q.sql(
    "q181_pattern_negation",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus, ts,
      |    COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS err_before
      |  FROM events
      |), f AS (
      |  SELECT user_id, event_id, event_type, tus, err_before,
      |    last_value(CASE WHEN event_type = 'view' THEN tus END IGNORE NULLS)
      |      OVER w AS view_us,
      |    last_value(CASE WHEN event_type = 'view' THEN err_before END
      |               IGNORE NULLS) OVER w AS err_at_view
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT event_id, user_id, tus AS purchase_us, view_us,
      |  CAST(err_before - err_at_view AS BIGINT) AS errs_between,
      |  err_before - err_at_view = 0 AS clean_path
      |FROM f WHERE event_type = 'purchase'""".stripMargin,
    "purchase preceded by a view with no error between: negation by window arithmetic") {
    (s, dir) =>
      val wPrev = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCur = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"), col("ts"))
        .withColumn("err_before",
          coalesce(sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .over(wPrev), lit(0L)))
        .withColumn("view_us",
          last(when(col("event_type") === "view", col("tus")),
            ignoreNulls = true).over(wCur))
        .withColumn("err_at_view",
          last(when(col("event_type") === "view", col("err_before")),
            ignoreNulls = true).over(wCur))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tus").as("purchase_us"),
          col("view_us"),
          (col("err_before") - col("err_at_view")).cast("long")
            .as("errs_between"),
          (col("err_before") - col("err_at_view") === 0).as("clean_path"))
  }

  // ---------------------------------------------------------------- q182
  /** Quantile normalization — the feature transform (sklearn's
    * QuantileTransformer shape): each event's value maps to its
    * empirical CDF position within its type, computed ENTIRELY from the
    * bounded centi-unit histogram (q160/q173's discipline): cdf =
    * (rows strictly below the bucket + half the bucket's own mass) / n,
    * an exact bigint rational emitted as one double division — the
    * mid-rank convention, so ties share a position and the transform
    * is a pure function of the value. The corpus-wide sort the
    * textbook rank spelling implies never runs; the scoring join is a
    * broadcast of the bounded histogram.
    *
    * Shape: one partial-agg histogram pass + cumsum window over the
    * BOUNDED bucket domain + map-side broadcast join back. */
  val q182QuantileNorm: Q = Q.sql(
    "q182_quantile_norm",
    """WITH b AS (
      |  SELECT event_id, event_type,
      |    CAST(floor(value * 100) AS BIGINT) AS bk
      |  FROM events
      |), h AS (
      |  SELECT event_type, bk, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM b GROUP BY 1, 2
      |), cum AS (
      |  SELECT event_type, bk, c,
      |    COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY bk
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM h
      |)
      |SELECT b.event_id, b.event_type, b.bk,
      |  CAST(2 * cum.below + cum.c AS DOUBLE) / (2 * cum.n) AS cdf_pos
      |FROM b JOIN cum ON cum.event_type = b.event_type AND cum.bk = b.bk""".stripMargin,
    "quantile normalization: mid-rank empirical CDF from bounded histograms") {
    (s, dir) =>
      val b = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("bk"))
      val wPrev = Window.partitionBy(col("event_type")).orderBy(col("bk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy(col("event_type"))
      val cum = b.groupBy(col("event_type"), col("bk"))
        .agg(count(lit(1)).as("c"))
        .withColumn("below", coalesce(sum(col("c")).over(wPrev), lit(0L)))
        .withColumn("n", sum(col("c")).over(wAll))
      b.join(broadcast(cum), Seq("event_type", "bk"))
        .select(col("event_id"), col("event_type"), col("bk"),
          ((lit(2) * col("below") + col("c")).cast("double")
            / (lit(2) * col("n"))).as("cdf_pos"))
  }

  // ---------------------------------------------------------------- q187
  /** Exponentially-weighted moving average with DYADIC decay (α = 1/2),
    * truncated at 32 trailing samples — per-user smoothed value series,
    * the time-series smoothing member beside q175's TWAP and q179's OLS
    * trend. The spelling is built for bit-identical cross-engine
    * replay: every weight is a power of two (x/2^k is EXACT in binary
    * floating point — no rounding anywhere until the final normalizing
    * division), the 32-term sum is written as one explicit left-
    * associated `+` chain so both engines add in the same order, and
    * the normalizer 1 − 2^−min(rn,32) is computed from an integer
    * shift, not a transcendental pow. Truncation at 32 terms is the
    * operator's DEFINITION (tail weight < 2.4e-10), which is what makes
    * a windowed spelling possible at all — true infinite-history EWMA
    * is a sequential recurrence no engine parallelizes.
    *
    * Scale shape: ONE user_id exchange; all 32 lags + row_number ride a
    * single Window node over that exchange (lag frames are O(1) state —
    * no per-row buffer grows with history); output rides the scan. */
  val q187DyadicEwma: Q = {
    val terms = (0 until 32).map { k =>
      s"COALESCE(lag(value, $k) OVER w, 0) / ${1L << (k + 1)}"
    }
    val duckSum = terms.mkString(" + ")
    Q.sql(
      "q187_dyadic_ewma",
      s"""SELECT event_id, user_id,
         |  CAST(rn AS BIGINT) AS rn, value,
         |  num / (1.0 - 1.0 / CAST(1::BIGINT << LEAST(rn, 32) AS DOUBLE))
         |    AS ewma
         |FROM (
         |  SELECT event_id, user_id, value,
         |    row_number() OVER w AS rn,
         |    $duckSum AS num
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |) t""".stripMargin,
      "dyadic-decay EWMA (alpha=1/2, 32-term), exact power-of-two weights") {
      (s, dir) =>
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val num = (0 until 32).map { k =>
          coalesce(lag(col("value"), k).over(w), lit(0.0)) /
            lit((1L << (k + 1)).toDouble)
        }.reduceLeft(_ + _)
        val rn = row_number().over(w)
        Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            rn.as("rn"), num.as("num"))
          .select(col("event_id"), col("user_id"),
            col("rn").cast("long").as("rn"), col("value"),
            (col("num") / (lit(1.0) - lit(1.0) /
              expr("cast(shiftleft(cast(1 as bigint)," +
                " cast(least(rn, 32) as int)) as double)"))).as("ewma"))
    }
  }

  // ---------------------------------------------------------------- q189
  /** Daily conversion rate with a WILSON score interval — the interval
    * a product dashboard should ship instead of the naive ±z√(p(1−p)/n)
    * (which collapses at p≈0/1 and small n; Wilson '27 is the standard
    * fix, and what q174's z-test doesn't provide: uncertainty BOUNDS).
    * z is pinned at exactly 2 (z²=4) so every constant is a small
    * integer literal; the only non-rational step is sqrt, which IEEE
    * 754 requires correctly rounded — with the expression tree spelled
    * identically on both engines, every bound is bit-identical.
    *
    * Scale shape: two partial-agg distinct-user counts per day (the
    * per-day frame is O(time-span)); the interval arithmetic is a
    * map-side projection over that bounded frame. */
  val q189WilsonCi: Q = Q.sql(
    "q189_wilson_ci",
    """WITH d AS (
      |  SELECT (epoch_us(ts) // 86400000000) * 86400 AS day_start,
      |         user_id,
      |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1, 2
      |), agg AS (
      |  SELECT day_start, CAST(COUNT(*) AS BIGINT) AS n_active,
      |         CAST(SUM(conv) AS BIGINT) AS n_converted
      |  FROM d GROUP BY 1
      |), p AS (
      |  SELECT *, CAST(n_converted AS DOUBLE) / n_active AS rate FROM agg
      |)
      |SELECT CAST(day_start AS BIGINT) AS day_start, n_active, n_converted,
      |  rate,
      |  ((rate + 2.0 / n_active) - 2.0 * sqrt(rate * (1.0 - rate) / n_active
      |      + 1.0 / (n_active * n_active))) / (1.0 + 4.0 / n_active)
      |    AS wilson_lo,
      |  ((rate + 2.0 / n_active) + 2.0 * sqrt(rate * (1.0 - rate) / n_active
      |      + 1.0 / (n_active * n_active))) / (1.0 + 4.0 / n_active)
      |    AS wilson_hi
      |FROM p""".stripMargin,
    "daily conversion rate with Wilson score interval (z=2, bit-exact)") {
    (s, dir) =>
      val d = Tables(s, dir, "events")
        .groupBy((floor(unix_micros(col("ts")) / 86400000000L) * 86400)
          .as("day_start"), col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("conv"))
      val agg = d.groupBy(col("day_start"))
        .agg(count(lit(1)).as("n_active"), sum(col("conv")).as("n_converted"))
        .withColumn("rate",
          col("n_converted").cast("double") / col("n_active"))
      val n = col("n_active")
      val half = lit(2.0) * sqrt(col("rate") * (lit(1.0) - col("rate")) / n
        + lit(1.0) / (n * n))
      val denom = lit(1.0) + lit(4.0) / n
      agg.select(col("day_start").cast("long").as("day_start"),
        col("n_active").cast("long").as("n_active"),
        col("n_converted").cast("long").as("n_converted"),
        col("rate"),
        (((col("rate") + lit(2.0) / n) - half) / denom).as("wilson_lo"),
        (((col("rate") + lit(2.0) / n) + half) / denom).as("wilson_hi"))
  }

  // ---------------------------------------------------------------- q190
  /** CUSUM changepoint detection — per event_type, the hourly-count
    * series' cumulative deviation from its own mean, and the bucket
    * where |S_t| peaks: the classic Page '54 retrospective changepoint
    * estimate (where the series' level shifted, if anywhere), the
    * monitoring companion to q133/q145's pointwise z-scores (which see
    * spikes but not sustained drift).
    *
    * Determinism: NO floating-point accumulates anywhere. S_t over
    * observed buckets is Σnᵢ − t·mean = (c·cum_n − t·total)/c, and the
    * numerator c·cum_n − t·total is EXACT BIGINT arithmetic (a running
    * sum of integers is order-independent, unlike a running sum of
    * doubles — DuckDB's window aggregates use segment trees, so a
    * double cumsum adds in a DIFFERENT order than Spark's sequential
    * frame and diverges in the last bits; the first spelling of this
    * query failed the hash exactly that way). The argmax ranks the
    * exact integer |numerator|; the emitted S is one double division.
    * Scale shape: one hourly partial-agg over the corpus, then every
    * window runs over the O(time-span) per-type bucket grid (q171's
    * discipline) — the argmax is a rank-1 filter on that bounded frame,
    * never a corpus-sized sort. */
  val q190CusumChangepoint: Q = Q.sql(
    "q190_cusum_changepoint",
    """WITH hourly AS (
      |  SELECT event_type, (epoch_us(ts) // 3600000000) * 3600 AS bucket_start,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2
      |), m AS (
      |  SELECT *,
      |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS total,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_buckets
      |  FROM hourly
      |), c AS (
      |  SELECT *,
      |    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bucket_start
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_n,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY bucket_start) AS BIGINT) AS t
      |  FROM m
      |), x AS (
      |  SELECT *, n_buckets * cum_n - t * total AS num FROM c
      |), r AS (
      |  SELECT *, row_number() OVER (
      |      PARTITION BY event_type ORDER BY abs(num) DESC, bucket_start) AS rk
      |  FROM x
      |)
      |SELECT event_type, CAST(bucket_start AS BIGINT) AS cp_bucket_start,
      |  CAST(num AS DOUBLE) / n_buckets AS cusum_at_cp,
      |  CAST(abs(num) AS DOUBLE) / n_buckets AS max_abs_cusum, n_buckets
      |FROM r WHERE rk = 1""".stripMargin,
    "CUSUM changepoint: argmax |cumulative deviation| per type (Page '54)") {
    (s, dir) =>
      val hourly = Tables(s, dir, "events")
        .groupBy(col("event_type"),
          (floor(unix_micros(col("ts")) / 3600000000L) * 3600)
            .as("bucket_start"))
        .agg(count(lit(1)).as("n"))
      val wType = Window.partitionBy(col("event_type"))
      val wCum = Window.partitionBy(col("event_type"))
        .orderBy(col("bucket_start"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOrd = Window.partitionBy(col("event_type"))
        .orderBy(col("bucket_start"))
      val wRank = Window.partitionBy(col("event_type"))
        .orderBy(abs(col("num")).desc, col("bucket_start"))
      hourly
        .withColumn("total", sum(col("n")).over(wType))
        .withColumn("n_buckets", count(lit(1)).over(wType))
        .withColumn("cum_n", sum(col("n")).over(wCum))
        .withColumn("t", row_number().over(wOrd).cast("long"))
        .withColumn("num",
          col("n_buckets") * col("cum_n") - col("t") * col("total"))
        .withColumn("rk", row_number().over(wRank))
        .filter(col("rk") === 1)
        .select(col("event_type"),
          col("bucket_start").cast("long").as("cp_bucket_start"),
          (col("num").cast("double") / col("n_buckets")).as("cusum_at_cp"),
          (abs(col("num")).cast("double") / col("n_buckets"))
            .as("max_abs_cusum"),
          col("n_buckets").cast("long").as("n_buckets"))
  }

  // ---------------------------------------------------------------- q192
  /** Incremental maintenance of a JOIN view — the lakehouse op q170
    * (aggregate IVM) deliberately left out: the materialized view is
    * fact⋈dimension→aggregate, a late-arriving fact batch Δ lands, and
    * the refresh applies the DELTA ALGEBRA — ΔV = Δfact ⋈ dim, folded
    * into the stored view by key — instead of re-joining the whole
    * fact table. The dimension is static here, so the V(A∪Δ) =
    * V(A) ⊎ (Δ ⋈ dim) identity is exact; the hash gate against the
    * full-recompute oracle IS the refresh-equals-recompute theorem,
    * with counts exact and value sums in DECIMAL(28,10) at every stage
    * (order-independent, so the two-phase fold cannot drift).
    *
    * Scale shape: the whole point — the delta path touches Δ rows plus
    * a BROADCAST of the dimension (a 100 TB fact table is never
    * re-shuffled to admit a 0.1% late batch), and the view merge is a
    * partial-agg union over two O(|view|) frames. */
  val q192IvmJoin: Q = Q.sql(
    "q192_ivm_join",
    """SELECT c.c_nationkey AS nationkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON c.c_custkey = e.user_id
      |GROUP BY 1""".stripMargin,
    "join-view IVM: delta-join refresh proven identical to full recompute") {
    (s, dir) =>
      val dim = Tables(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      def part(df: DataFrame): DataFrame = df
        .join(broadcast(dim), Seq("user_id"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,10)")).as("sv"))
      val ev = Tables(s, dir, "events")
      // the stored view (base) and the late-batch delta, maintained
      // separately and folded — never a full-fact re-join
      val vBase = part(ev.filter(pmod(col("event_id"), lit(10)) =!= 7))
      val vDelta = part(ev.filter(pmod(col("event_id"), lit(10)) === 7))
      vBase.unionByName(vDelta)
        .groupBy(col("c_nationkey"))
        .agg(sum(col("n")).as("n_events"), sum(col("sv")).as("svv"))
        .select(col("c_nationkey").as("nationkey"),
          col("n_events").cast("long").as("n_events"),
          col("svv").cast("double").as("sum_value"))
  }

  // ---------------------------------------------------------------- q193
  /** Clickstream path mining — the top-20 most frequent CONSECUTIVE
    * event-type trigrams per user stream: where q169's Markov matrix is
    * memoryless (first-order pairs), trigram paths expose the actual
    * journeys ("view→click→purchase" vs "view→error→view") that drive
    * funnel design. Two LEADs over one user window build the triple;
    * the count histogram is types³-bounded, so the rank window rides a
    * ≤125-row frame (the q94b bounded-input discipline) and the top-20
    * cut is deterministic via (count DESC, path ASC).
    *
    * Scale shape: ONE user_id exchange for both leads, a partial-agg
    * histogram, and a window over the bounded histogram only. */
  val q193PathMining: Q = Q.sql(
    "q193_path_mining",
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), p AS (
      |  SELECT event_type || '>' || e2 || '>' || e3 AS path
      |  FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |), h AS (
      |  SELECT path, CAST(COUNT(*) AS BIGINT) AS cnt FROM p GROUP BY 1
      |), r AS (
      |  SELECT path, cnt,
      |    row_number() OVER (ORDER BY cnt DESC, path) AS rnk
      |  FROM h
      |)
      |SELECT path, cnt, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 20""".stripMargin,
    "top-20 consecutive event-type trigram paths (q169's memoryful refinement)") {
    (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val h = Tables(s, dir, "events")
        .select(col("event_type"),
          lead(col("event_type"), 1).over(w).as("e2"),
          lead(col("event_type"), 2).over(w).as("e3"))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
          .as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("cnt"))
      // rank window over the types^3-bounded histogram only
      h.withColumn("rnk",
        row_number().over(Window.orderBy(col("cnt").desc, col("path"))))
        .filter(col("rnk") <= 20)
        .select(col("path"), col("cnt"), col("rnk").cast("long").as("rnk"))
  }

  // ---------------------------------------------------------------- q196
  /** Leave-one-out smoothed target encoding — the categorical feature
    * transform every tabular training pipeline ships (per-category
    * target rate with the row's own label held out, shrunk toward the
    * global prior; Micci-Barreca SIGKDD Expl. '01): encoding a 100 TB
    * fact table's high-cardinality keys this way is a one-pass partial
    * aggregate + a broadcast join, and the LOO subtraction is what keeps
    * the feature leakage-free (the row never sees its own label — the
    * q149 split discipline applied at feature level).
    *
    * Exactness: with binary y and smoothing m=10 toward the global rate
    * gpos/gn, the encoding is the rational
    * (gn·(pos_c − y) + m·gpos) / (gn·(cnt_c − 1 + m)) — numerator and
    * denominator are kept as exact wide integers (DECIMAL(38,0) on
    * Spark, HUGEINT in the oracle; bigint·bigint overflows long past
    * ~3e9 facts, so the wide type is the 100 TB headroom) and the single
    * double division at emission is IEEE-identical on both engines.
    *
    * Shape: one o_custkey equi-join to pull the segment (AQE broadcasts
    * the dimension while it fits), ONE partial-agg pass for the 5-row
    * segment histogram, a 1-row global roll-up — both broadcast back —
    * and a map-side encode. No per-row window, no second fact shuffle. */
  val q196TargetEncoding: Q = Q.sql(
    "q196_target_encoding",
    """WITH base AS (
      |  SELECT o_orderkey, c_mktsegment AS segment,
      |    CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS y
      |  FROM orders JOIN customer ON c_custkey = o_custkey
      |), seg AS (
      |  SELECT segment, CAST(COUNT(*) AS BIGINT) AS cnt_c,
      |    CAST(SUM(y) AS BIGINT) AS pos_c
      |  FROM base GROUP BY 1
      |), g AS (
      |  SELECT CAST(SUM(cnt_c) AS BIGINT) AS gn,
      |    CAST(SUM(pos_c) AS BIGINT) AS gpos FROM seg
      |)
      |SELECT o_orderkey, base.segment AS segment, CAST(y AS BIGINT) AS y,
      |  CAST(CAST(gn AS HUGEINT) * (pos_c - y)
      |         + 10 * CAST(gpos AS HUGEINT) AS DOUBLE)
      |  / CAST(CAST(gn AS HUGEINT) * (cnt_c + 9) AS DOUBLE)
      |    AS loo_encoding
      |FROM base, seg, g
      |WHERE seg.segment = base.segment""".stripMargin,
    "leave-one-out smoothed target encoding of customer segment (m=10)") {
    (s, dir) =>
      val base = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          col("c_custkey") === col("o_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment").as("segment"),
          when(col("o_totalprice") > 250000, 1L).otherwise(0L).as("y"))
      val seg = base.groupBy(col("segment"))
        .agg(count(lit(1)).as("cnt_c"), sum(col("y")).as("pos_c"))
      val glob = seg.agg(sum(col("cnt_c")).as("gn"),
        sum(col("pos_c")).as("gpos"))
      val d38 = "decimal(38,0)"
      base
        .join(broadcast(seg), Seq("segment"))
        .crossJoin(broadcast(glob))
        .select(col("o_orderkey"), col("segment"), col("y"),
          ((col("gn").cast(d38) * (col("pos_c") - col("y"))
            + lit(10) * col("gpos").cast(d38)).cast("double")
            / (col("gn").cast(d38) * (col("cnt_c") + lit(9)))
              .cast("double")).as("loo_encoding"))
  }

  // ---------------------------------------------------------------- q198
  /** Seasonal-baseline forecast backtest — the sanity model every
    * time-series pipeline runs before anything learned: per event type,
    * the hour-of-day mean rate from the first 80% of the corpus span
    * forecasts the remaining 20%, and the backtest emits the per-hour
    * absolute error. The 80/20 cut is integer arithmetic on hour indexes
    * (hidx < ⌊8H/10⌋), the forecast is the exact rational
    * sum(train counts)/count(train hours), and the error is kept as the
    * EXACT scaled bigint |actual·f_den − f_num| (the q190 lesson: never
    * hash-compare accumulated doubles) with the one double division at
    * emission.
    *
    * Shape: one partial-agg pass to the (type, hour)-bucketed counts —
    * O(types·time-span) from there on: the train stats frame is bounded
    * by types×24, broadcast back onto the test grid. Test hours whose
    * hour-of-day never occurs in train drop out (inner join) — explicit
    * contract, q130 owns gap-filling. */
  val q198SeasonalBaseline: Q = Q.sql(
    "q198_seasonal_baseline",
    """WITH hourly AS (
      |  SELECT event_type,
      |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS hidx,
      |    hour(ts) AS hod, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2, 3
      |), bounds AS (
      |  SELECT MIN(hidx) AS h0, MAX(hidx) AS h1 FROM hourly
      |), cut AS (
      |  SELECT h0, (8 * (h1 - h0 + 1)) // 10 AS train_h FROM bounds
      |), train AS (
      |  SELECT event_type, hod, CAST(SUM(cnt) AS BIGINT) AS f_num,
      |    CAST(COUNT(*) AS BIGINT) AS f_den
      |  FROM hourly, cut WHERE hidx - h0 < train_h GROUP BY 1, 2
      |)
      |SELECT h.event_type, CAST(h.hidx AS BIGINT) AS hidx,
      |  h.cnt AS actual, f_num, f_den,
      |  CAST(f_num AS DOUBLE) / CAST(f_den AS DOUBLE) AS forecast,
      |  CAST(abs(h.cnt * f_den - f_num) AS BIGINT) AS abs_err_scaled
      |FROM hourly h, cut, train t
      |WHERE h.hidx - cut.h0 >= cut.train_h
      |  AND t.event_type = h.event_type AND t.hod = h.hod""".stripMargin,
    "hour-of-day seasonal baseline trained on first 80%, backtested on last 20%") {
    (s, dir) =>
      val hourly = Tables(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('HOUR', ts)) div 3600000000")
            .as("hidx"),
          hour(col("ts")).as("hod"))
        .agg(count(lit(1)).as("cnt"))
      val cut = hourly.agg(min(col("hidx")).as("h0"), max(col("hidx")).as("h1"))
        .select(col("h0"),
          expr("(8 * (h1 - h0 + 1)) div 10").as("train_h"))
      val withCut = hourly.crossJoin(broadcast(cut))
      val train = withCut.filter(col("hidx") - col("h0") < col("train_h"))
        .groupBy(col("event_type"), col("hod"))
        .agg(sum(col("cnt")).as("f_num"), count(lit(1)).as("f_den"))
      withCut.filter(col("hidx") - col("h0") >= col("train_h"))
        .join(broadcast(train), Seq("event_type", "hod"))
        .select(col("event_type"), col("hidx"), col("cnt").as("actual"),
          col("f_num"), col("f_den"),
          (col("f_num").cast("double") / col("f_den").cast("double"))
            .as("forecast"),
          abs(col("cnt") * col("f_den") - col("f_num")).as("abs_err_scaled"))
  }

  // ---------------------------------------------------------------- q199
  /** Benford first-digit audit — the forensic data-quality screen for
    * fabricated or truncated numeric columns (Benford '38; standard in
    * fraud/ETL auditing): per order priority, the observed leading-digit
    * histogram of o_totalprice against the Benford expectation
    * n·log₁₀(1+1/d), with the per-digit χ² contribution. A synthetic
    * uniform price column FAILS Benford loudly — that is the point of
    * the audit (the statistic reports the data's nature; the operator
    * is the deliverable).
    *
    * Exactness: the nine log₁₀ constants are identical decimal literals
    * on both sides (decimal→double parsing is correctly rounded in both
    * engines, so the doubles are bit-identical); observed counts are
    * exact bigints; expected/χ² are fixed-order per-row double
    * expressions. The digit histogram is ≤ 9 rows per priority — the
    * rank/χ² arithmetic rides a bounded frame; the only corpus-sized
    * stage is the partial-agg histogram pass. */
  val q199BenfordAudit: Q = {
    val ps = Seq(
      1 -> "0.3010299956639812", 2 -> "0.17609125905568124",
      3 -> "0.12493873660829992", 4 -> "0.09691001300805642",
      5 -> "0.07918124604762482", 6 -> "0.06694678963061322",
      7 -> "0.05799194697768673", 8 -> "0.05115252244738129",
      9 -> "0.04575749056067514")
    val duckCase = ps.map { case (d, p) => s"WHEN digit = $d THEN $p" }
      .mkString("CASE ", " ", " END")
    val sparkCase = ps.foldLeft(lit(null).cast("double")) {
      case (acc, (d, p)) => when(col("digit") === d, lit(p.toDouble)).otherwise(acc)
    }
    Q.sql(
      "q199_benford_audit",
      s"""WITH h AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
        |      AS BIGINT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS observed
        |  FROM orders GROUP BY 1, 2
        |), n AS (
        |  SELECT priority, CAST(SUM(observed) AS BIGINT) AS n
        |  FROM h GROUP BY 1
        |)
        |SELECT h.priority, h.digit, h.observed,
        |  CAST(n.n AS DOUBLE) * ($duckCase) AS expected,
        |  (CAST(h.observed AS DOUBLE) - CAST(n.n AS DOUBLE) * ($duckCase))
        |    * (CAST(h.observed AS DOUBLE) - CAST(n.n AS DOUBLE) * ($duckCase))
        |    / (CAST(n.n AS DOUBLE) * ($duckCase)) AS chi2_term
        |FROM h JOIN n ON n.priority = h.priority""".stripMargin,
      "per-priority Benford first-digit audit of o_totalprice with chi-square terms") {
      (s, dir) =>
        val h = Tables(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("priority"),
            substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
              .cast("long").as("digit"))
          .agg(count(lit(1)).as("observed"))
        val n = h.groupBy(col("priority")).agg(sum(col("observed")).as("n"))
        val expected = col("n").cast("double") * sparkCase
        h.join(broadcast(n), Seq("priority"))
          .select(col("priority"), col("digit"), col("observed"),
            expected.as("expected"),
            ((col("observed").cast("double") - expected)
              * (col("observed").cast("double") - expected)
              / expected).as("chi2_term"))
    }
  }

  // ---------------------------------------------------------------- q204
  /** Distributed quantile estimation from a DETERMINISTIC bottom-k-by-
    * hash sample ([[graft.functions.BottomKSample]]) — the mergeable,
    * partitioning-invariant alternative to `approx_percentile` (whose
    * GK summary is arrival-order-dependent, hence unreproducible across
    * runs and not oracle-gateable). Per group: keep the k=256 rows whose
    * md5 row-key hash is smallest (a uniform deterministic sample),
    * then read nearest-rank p50/p90/p99 off the sorted sample.
    *
    * Scale shape: ONE ObjectHashAggregate with map-side partial
    * aggregation — per-group state is k (hash, value) pairs regardless
    * of corpus size, so 100 TB costs a scan plus O(k) merges per
    * partition; no sort, no window, no shuffle of the data itself.
    * Accuracy is the standard uniform-sample bound (±~1/√k per
    * quantile), the price of exact determinism.
    */
  val q204QuantileSketch: Q = Q.sql(
    "q204_quantile_sketch",
    """WITH h AS (
      |  SELECT l_returnflag AS flag, l_extendedprice AS v,
      |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
      |       CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM lineitem
      |), r AS (
      |  SELECT flag, v,
      |    row_number() OVER (PARTITION BY flag ORDER BY h, v) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY flag) AS BIGINT) AS n_rows
      |  FROM h
      |), s AS (
      |  SELECT flag, v, n_rows FROM r WHERE rn <= 256
      |), o AS (
      |  SELECT flag, v, n_rows,
      |    row_number() OVER (PARTITION BY flag ORDER BY v) AS orn,
      |    COUNT(*) OVER (PARTITION BY flag) AS k
      |  FROM s
      |)
      |SELECT flag, MAX(n_rows) AS n_rows,
      |  MAX(CASE WHEN orn = CAST(ceil(0.5 * k) AS BIGINT) THEN v END) AS p50,
      |  MAX(CASE WHEN orn = CAST(ceil(0.9 * k) AS BIGINT) THEN v END) AS p90,
      |  MAX(CASE WHEN orn = CAST(ceil(0.99 * k) AS BIGINT) THEN v END) AS p99
      |FROM o GROUP BY 1""".stripMargin,
    "deterministic bottom-k-sample quantiles per return flag (mergeable sketch)") {
    (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val h = graft.ops.Text.baseHash(
        concat(col("l_orderkey").cast("string"), lit("|"),
          col("l_linenumber").cast("string")))
      val agg = li.groupBy(col("l_returnflag").as("flag"))
        .agg(
          count(lit(1)).as("n_rows"),
          graft.functions.BottomKSample.sample(h, col("l_extendedprice"), 256)
            .as("sample"))
        .withColumn("sorted", array_sort(col("sample")))
        .withColumn("k", size(col("sorted")))
      def q(p: Double) =
        element_at(col("sorted"), ceil(lit(p) * col("k")).cast("int"))
      agg.select(col("flag"), col("n_rows"),
        q(0.5).as("p50"), q(0.9).as("p90"), q(0.99).as("p99"))
  }

  // ---------------------------------------------------------------- q210
  /** Join-size estimation from Count-Min sketches (Cormode &
    * Muthukrishnan '05 §4.2, the AMS inner-product estimate): the
    * equi-join cardinality |R ⋈_k S| = Σ_v f_R(v)·f_S(v) is estimated
    * as min_i Σ_b cmsR[i][b]·cmsS[i][b] — never an underestimate. The
    * workload is q100's click×purchase user join: the query optimizer
    * question "how big would this join be?" answered from two 8 KiB
    * sketches without running the join. The exact size (one per-key
    * count join) is emitted beside the estimate to measure it — at
    * 100 TB only the sketches are computed, each a single map-side
    * partial-agg fold with O(1) state.
    *
    * Deterministic CMS counters (q108's Carter–Wegman family) make the
    * estimate itself a pure function of the two input multisets — the
    * DuckDB oracle rebuilds both counter matrices as GROUP BYs and
    * reproduces the estimate bit-for-bit. */
  val q210JoinEstimate: Q = Q.sql(
    "q210_join_estimate",
    """WITH p(i, a, b) AS (
      |  VALUES (0, 1, 12345), (1, 3, 1012348), (2, 5, 2012351), (3, 7, 3012354)
      |), ec AS (
      |  SELECT user_id % 2147483647 AS v FROM events WHERE event_type = 'click'
      |), ep AS (
      |  SELECT user_id % 2147483647 AS v FROM events WHERE event_type = 'purchase'
      |), ca AS (
      |  SELECT i, ((a * v + b) % 2147483647) % 256 AS bucket, COUNT(*) AS c
      |  FROM ec CROSS JOIN p GROUP BY 1, 2
      |), cb AS (
      |  SELECT i, ((a * v + b) % 2147483647) % 256 AS bucket, COUNT(*) AS c
      |  FROM ep CROSS JOIN p GROUP BY 1, 2
      |), est AS (
      |  SELECT CAST(MIN(dot) AS BIGINT) AS cms_estimate FROM (
      |    SELECT ca.i, SUM(ca.c * cb.c) AS dot
      |    FROM ca JOIN cb ON cb.i = ca.i AND cb.bucket = ca.bucket
      |    GROUP BY 1)
      |), ex AS (
      |  SELECT CAST(COALESCE(SUM(a.n * b.n), 0) AS BIGINT) AS exact_size
      |  FROM (SELECT v, COUNT(*) AS n FROM ec GROUP BY 1) a
      |  JOIN (SELECT v, COUNT(*) AS n FROM ep GROUP BY 1) b ON b.v = a.v
      |)
      |SELECT ex.exact_size, est.cms_estimate,
      |  est.cms_estimate - ex.exact_size AS overcount
      |FROM ex, est""".stripMargin,
    "CMS inner-product join-size estimate for the click-purchase user join") {
    (s, dir) =>
      import graft.functions.CmsCounts
      val ev = Tables(s, dir, "events")
      def side(t: String) = ev.where(col("event_type") === t)
        .select(col("user_id"))
      val skA = side("click")
        .agg(CmsCounts.counts(col("user_id"), 4, 256).as("ca"))
      val skB = side("purchase")
        .agg(CmsCounts.counts(col("user_id"), 4, 256).as("cb"))
      val dots = transform(sequence(lit(0), lit(3)), i =>
        aggregate(sequence(lit(0), lit(255)), lit(0L), (acc, bkt) =>
          acc + element_at(col("ca"), (i * 256 + bkt + 1).cast("int"))
            * element_at(col("cb"), (i * 256 + bkt + 1).cast("int"))))
      val est = skA.crossJoin(broadcast(skB))
        .select(array_min(dots).as("cms_estimate"))
      val exact = side("click").groupBy(col("user_id"))
        .agg(count(lit(1)).as("na"))
        .join(side("purchase").groupBy(col("user_id"))
          .agg(count(lit(1)).as("nb")), Seq("user_id"))
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).cast("long")
          .as("exact_size"))
      exact.crossJoin(broadcast(est))
        .select(col("exact_size"), col("cms_estimate"),
          (col("cms_estimate") - col("exact_size")).as("overcount"))
  }

  // ---------------------------------------------------------------- q212
  /** Conversion-delay quantiles: every purchase matched to the user's
    * most recent PRIOR click (one per-user window pass — the q04 as-of
    * discipline without a join), delay bucketed by purchase
    * hour-of-day, p50/p90 read from the q204 deterministic bottom-k
    * sample. The funnel-latency metric (time-to-convert distribution
    * by daypart) every growth pipeline reports, composed from two
    * gated primitives.
    *
    * Scale shape: ONE user exchange carries the as-of (running max of
    * click time over a rows-frame — O(1) state, no join, no band);
    * the quantile stage is 24 bounded sketch groups. Delays ride as
    * exact integer microseconds widened to double (< 2^53, exact). */
  val q212DelayQuantiles: Q = Q.sql(
    "q212_delay_quantiles",
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), w AS (
      |  SELECT user_id, event_type, tus, event_id,
      |    MAX(CASE WHEN event_type = 'click' THEN tus END) OVER (
      |      PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
      |  FROM e
      |), d AS (
      |  SELECT CAST((tus // 3600000000) % 24 AS BIGINT) AS hod,
      |    CAST(tus - last_click AS DOUBLE) AS delay_us,
      |    ('0x' || substr(md5('dq|' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM w WHERE event_type = 'purchase' AND last_click IS NOT NULL
      |), r AS (
      |  SELECT hod, delay_us,
      |    row_number() OVER (PARTITION BY hod ORDER BY h, delay_us) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY hod) AS BIGINT) AS n_conv
      |  FROM d
      |), s AS (
      |  SELECT hod, delay_us, n_conv FROM r WHERE rn <= 64
      |), o AS (
      |  SELECT hod, delay_us, n_conv,
      |    row_number() OVER (PARTITION BY hod ORDER BY delay_us) AS orn,
      |    COUNT(*) OVER (PARTITION BY hod) AS k
      |  FROM s
      |)
      |SELECT hod, MAX(n_conv) AS n_conv,
      |  MAX(CASE WHEN orn = CAST(ceil(0.5 * k) AS BIGINT) THEN delay_us END) AS p50_us,
      |  MAX(CASE WHEN orn = CAST(ceil(0.9 * k) AS BIGINT) THEN delay_us END) AS p90_us
      |FROM o GROUP BY 1""".stripMargin,
    "click-to-purchase delay p50/p90 by hour-of-day via the bottom-k sample") {
    (s, dir) =>
      val e = Tables(s, dir, "events")
        .where(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"), col("event_id"))
      val wu = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val d = e
        .withColumn("last_click",
          max(when(col("event_type") === "click", col("tus"))).over(wu))
        .where(col("event_type") === "purchase" && col("last_click").isNotNull)
        .select(
          pmod(expr("tus div 3600000000"), lit(24)).cast("long").as("hod"),
          (col("tus") - col("last_click")).cast("double").as("delay_us"),
          graft.ops.Text.baseHash(
            concat(lit("dq|"), col("event_id").cast("string"))).as("h"))
      val agg = d.groupBy(col("hod"))
        .agg(count(lit(1)).as("n_conv"),
          graft.functions.BottomKSample.sample(col("h"), col("delay_us"), 64)
            .as("sample"))
        .withColumn("sorted", array_sort(col("sample")))
        .withColumn("k", size(col("sorted")))
      def q(p: Double) =
        element_at(col("sorted"), ceil(lit(p) * col("k")).cast("int"))
      agg.select(col("hod"), col("n_conv"),
        q(0.5).as("p50_us"), q(0.9).as("p90_us"))
  }

  // ---------------------------------------------------------------- q214
  /** Incremental view maintenance with RETRACTIONS — the delete side
    * q170 (aggregate IVM) and q192 (join IVM) don't exercise: a CDC
    * tail of inserts AND deletes folds into the stored per-type
    * (count, sum) view as signed deltas, and the gate hash-compares the
    * delta-maintained view against the oracle's full recompute from the
    * final row set — the refresh ≡ recompute theorem with negative
    * multiplicities (Koch's delta algebra / Materialize-style
    * retractable aggregates).
    *
    * CDC derivation (deterministic, closed-form): the first 80% of
    * events by (ts, event_id) are the base facts; the last 20% are the
    * log — even event_id rows INSERT themselves, odd rows DELETE the
    * base fact at rank `event_id mod |base|` (duplicate targets
    * collapse: set semantics). Counts are exact longs; sums fold in
    * DECIMAL(28,10) on BOTH the base and the delta path, so the
    * two-phase fold cannot drift from the recompute.
    *
    * Scale shape: the base aggregate is one partial-agg pass; the
    * delta path touches ONLY log rows (and the delete targets it
    * resolves by one rank equi-join into the base) — a 100 TB fact
    * table absorbs a delete without being rescanned. The rank window
    * exists only to make the synthetic log replayable; a real CDC feed
    * carries its target keys. */
  val q214IvmRetract: Q = Q.sql(
    "q214_ivm_retract",
    """WITH ranked AS (
      |  SELECT event_id, event_type, value,
      |    row_number() OVER (ORDER BY ts, event_id) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM events
      |), base AS (
      |  SELECT event_id, event_type, value,
      |    row_number() OVER (ORDER BY rn) - 1 AS brn
      |  FROM ranked WHERE rn <= CAST(floor(0.8 * n) AS BIGINT)
      |), log AS (
      |  SELECT event_id, event_type, value FROM ranked
      |  WHERE rn > CAST(floor(0.8 * n) AS BIGINT)
      |), ins AS (
      |  SELECT event_type, value FROM log WHERE event_id % 2 = 0
      |), delkeys AS (
      |  SELECT DISTINCT event_id % (SELECT COUNT(*) FROM base) AS brn
      |  FROM log WHERE event_id % 2 = 1
      |), survivors AS (
      |  SELECT b.event_type, b.value FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM delkeys d WHERE d.brn = b.brn)
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
      |FROM (SELECT event_type, value FROM survivors
      |      UNION ALL SELECT event_type, value FROM ins)
      |GROUP BY 1""".stripMargin,
    "IVM with retractions: signed-delta refresh hash-equals full recompute") {
    (s, dir) =>
      val ranked = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("ts"), col("event_id"))))
      val ranked2 = ranked.crossJoin(broadcast(
        ranked.agg(floor(lit(0.8) * count(lit(1))).cast("long").as("cut"))))
      val base = ranked2.where(col("rn") <= col("cut"))
        .withColumn("brn", (row_number().over(Window.orderBy(col("rn"))) - 1)
          .cast("long"))
        .select(col("event_id"), col("event_type"), col("value"), col("brn"))
      val log = ranked2.where(col("rn") > col("cut"))
        .select(col("event_id"), col("event_type"), col("value"))
      // ---- the maintained path: base view + signed deltas, never a rescan
      val dec = (c: Column) => c.cast("decimal(28,10)")
      val viewBase = base.groupBy(col("event_type"))
        .agg(count(lit(1)).as("c"), sum(dec(col("value"))).as("s"))
      val ins = log.where(pmod(col("event_id"), lit(2)) === 0)
      val deltaIns = ins.groupBy(col("event_type"))
        .agg(count(lit(1)).as("dc"), sum(dec(col("value"))).as("ds"))
      val nBase = base.agg(count(lit(1)).as("nb"))
      val delKeys = log.where(pmod(col("event_id"), lit(2)) === 1)
        .crossJoin(broadcast(nBase))
        .select(pmod(col("event_id"), col("nb")).as("brn"))
        .distinct()
      val deltaDel = base.join(delKeys, Seq("brn")) // rank equi-join, log-sized
        .groupBy(col("event_type"))
        .agg((-count(lit(1))).as("dc"), (-sum(dec(col("value")))).as("ds"))
      val merged = viewBase
        .unionByName(deltaIns.select(col("event_type"), col("dc").as("c"),
          col("ds").as("s")))
        .unionByName(deltaDel.select(col("event_type"), col("dc").as("c"),
          col("ds").as("s")))
        .groupBy(col("event_type"))
        .agg(sum(col("c")).cast("long").as("n_rows"),
          sum(col("s")).cast("double").as("sum_value"))
      merged
  }

  // ---------------------------------------------------------------- q215
  /** Two-sample Kolmogorov–Smirnov drift test — the CONTINUOUS-column
    * complement to q163's categorical chi-square: per event_type, split
    * the population by the `user_id % 2` assignment hash (q174's arms)
    * and test whether the two `value` distributions are
    * indistinguishable — the sample-ratio-mismatch / randomization
    * audit every experimentation pipeline runs, and the drift gate a
    * training-data pipeline points at yesterday-vs-today feeds.
    *
    * The statistic is computed EXACTLY in integers: with per-arm ECDF
    * counts Ca(x), Cb(x) at each distinct value x,
    * D = max |Ca/n_a − Cb/n_b| = max |Ca·n_b − Cb·n_a| / (n_a·n_b),
    * so the gate hashes the integer numerator/denominator (longs are
    * exact to 2^63 — past ~3e9 rows per arm per type the two products
    * take one DECIMAL(38,0) widening) and emits the double ratio raw.
    *
    * Scale shape: the (type, value, arm) histogram is one partial-agg
    * pass (map-side combined — ties collapse before the shuffle); the
    * ECDF cumsums ride ONE window exchange partitioned by event_type
    * over the DISTINCT-value frame, not the corpus; the final max is a
    * partial agg again. Nothing is quadratic, nothing collects. */
  val q215KsDrift: Q = Q.sql(
    "q215_ks_drift",
    """WITH e AS (
      |  SELECT event_type, value, user_id % 2 AS arm
      |  FROM events WHERE value IS NOT NULL
      |), g AS (
      |  SELECT event_type, value,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM e GROUP BY 1, 2
      |), c AS (
      |  SELECT event_type,
      |    SUM(ca) OVER (PARTITION BY event_type ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
      |    SUM(cb) OVER (PARTITION BY event_type ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
      |    SUM(ca) OVER (PARTITION BY event_type) AS na,
      |    SUM(cb) OVER (PARTITION BY event_type) AS nb
      |  FROM g
      |)
      |SELECT event_type,
      |  CAST(MAX(na) AS BIGINT) AS n_a,
      |  CAST(MAX(nb) AS BIGINT) AS n_b,
      |  CAST(MAX(ABS(cca * nb - ccb * na)) AS BIGINT) AS d_num,
      |  CAST(MAX(na) * MAX(nb) AS BIGINT) AS d_den,
      |  CAST(MAX(ABS(cca * nb - ccb * na)) AS DOUBLE)
      |    / CAST(MAX(na) * MAX(nb) AS DOUBLE) AS ks
      |FROM c GROUP BY 1""".stripMargin,
    "exact integer two-sample KS statistic per event_type over the hash split") {
    (s, dir) =>
      val e = Tables(s, dir, "events")
        .where(col("value").isNotNull)
        .select(col("event_type"), col("value"),
          pmod(col("user_id"), lit(2)).as("arm"))
      val g = e.groupBy(col("event_type"), col("value"))
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("cb"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      val c = g.select(col("event_type"),
        sum(col("ca")).over(wCum).as("cca"),
        sum(col("cb")).over(wCum).as("ccb"),
        sum(col("ca")).over(wAll).as("na"),
        sum(col("cb")).over(wAll).as("nb"))
      c.groupBy(col("event_type"))
        .agg(max(col("na")).cast("long").as("n_a"),
          max(col("nb")).cast("long").as("n_b"),
          max(abs(col("cca") * col("nb") - col("ccb") * col("na")))
            .cast("long").as("d_num"),
          (max(col("na")) * max(col("nb"))).cast("long").as("d_den"))
        .withColumn("ks",
          col("d_num").cast("double") / col("d_den").cast("double"))
  }

  // ---------------------------------------------------------------- q216
  /** Exact ranking AUC (Mann–Whitney U with midrank ties) — the model-
    * eval metric a training pipeline computes when it scores a
    * validation set: does `value` rank purchase events above click
    * events? q174 tests the arms' conversion RATES; this ranks a
    * SCORE. (The per-user spelling is degenerate on this fixture —
    * every user converts — so the positive class is the event type.)
    *
    * Everything is integer-exact: with distinct-score tie groups
    * (c_pos, c_neg), B = items strictly below, doubled rank-sum
    * R2 = Σ c_pos·(2B + c_tot + 1), U2 = R2 − n_pos·(n_pos+1), and
    * AUC = U2 / (2·n_pos·n_neg) emitted as the one raw double. The
    * gate hashes U2 and the counts, so a half-rank error anywhere
    * flips the row.
    *
    * Scale shape: the tie-group histogram is one partial-agg pass over
    * the corpus; ranking then touches only the DISTINCT-score frame. Its
    * cumsum is a single ordered partition — the exact-rank floor q75
    * documents — with the sketch quantile path (q204) as the at-scale
    * alternative when "exact to the last tie" stops being worth one
    * sorted pass. */
  val q216AucRanking: Q = Q.sql(
    "q216_auc_ranking",
    """WITH u AS (
      |  SELECT value AS score,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      |  FROM events
      |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
      |), g AS (
      |  SELECT score,
      |    CAST(SUM(pos) AS BIGINT) AS cpos,
      |    CAST(SUM(1 - pos) AS BIGINT) AS cneg
      |  FROM u GROUP BY 1
      |), r AS (
      |  SELECT cpos, cneg,
      |    COALESCE(SUM(cpos + cneg) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM g
      |), s AS (
      |  SELECT
      |    CAST(SUM(cpos) AS BIGINT) AS n_pos,
      |    CAST(SUM(cneg) AS BIGINT) AS n_neg,
      |    CAST(SUM(cpos * (2 * below + cpos + cneg + 1)) AS BIGINT) AS r2
      |  FROM r
      |)
      |SELECT n_pos, n_neg,
      |  CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
      |  CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
      |    / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
      |FROM s""".stripMargin,
    "exact Mann-Whitney AUC of engagement score vs conversion, midrank ties") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .where(col("event_type").isin("purchase", "click") &&
          col("value").isNotNull)
        .select(col("value").as("score"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("pos"))
      val g = u.groupBy(col("score"))
        .agg(sum(col("pos")).cast("long").as("cpos"),
          sum(lit(1) - col("pos")).cast("long").as("cneg"))
      // two-level exact prefix sum (graft.ops.Ranks): the distinct-score
      // frame grows with the corpus (bounded-frame lint measured ~8× per
      // decade), so the cumsum buckets by the score's integer band —
      // bounded by the VALUE DOMAIN — and only the O(bands) frame sees a
      // global window; the residue rides a band-partitioned window
      val r = graft.ops.Ranks.withGlobalPrefixSum(g, "below",
        col("cpos") + col("cneg"), floor(col("score")).cast("long"),
        Seq(col("score")))
      r.agg(
        sum(col("cpos")).cast("long").as("n_pos"),
        sum(col("cneg")).cast("long").as("n_neg"),
        sum(col("cpos") * (lit(2) * col("below") + col("cpos") + col("cneg")
          + 1)).cast("long").as("r2"))
        .select(col("n_pos"), col("n_neg"),
          (col("r2") - col("n_pos") * (col("n_pos") + 1)).cast("long")
            .as("u2"),
          ((col("r2") - col("n_pos") * (col("n_pos") + 1)).cast("double")
            / (lit(2) * col("n_pos") * col("n_neg")).cast("double"))
            .as("auc"))
  }

  // ---------------------------------------------------------------- q218
  /** Calibration audit + Brier score — the third member of the model-eval
    * family (q216 ranks, q217 audits labels; this checks whether the
    * score's MAGNITUDE means what it claims). The "model" is the
    * deterministic squash p = v/(v+50) of the engagement value, QUANTIZED
    * to milli-units — the production shape where scores ship rounded —
    * which is what makes mean-confidence EXACT: p_milli is a pure integer
    * function of the value's centi-units, so per-bin Σp_milli and the
    * Brier numerator Σ(p_milli − 1000·y)² are bigint sums (no
    * order-dependent double accumulation anywhere; Σ(p−y)² ≤ 1e6·rows
    * keeps the long past 1e12 rows). Reliability-diagram deciles bin on
    * p_milli, so bin membership is an integer fact too.
    *
    * acc, conf, |gap| (the per-bin ECE component) and the bin's Brier
    * mean are each ONE fixed-order double division at emission — the
    * q163/q189 discipline. Scale shape: a single map-side-combined
    * partial agg over ≤10 groups; nothing else moves. */
  val q218Calibration: Q = Q.sql(
    "q218_calibration",
    """WITH u AS (
      |  SELECT CAST(floor(value * 100) AS BIGINT) AS vc,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events
      |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
      |), p AS (
      |  SELECT CAST(floor(1000 * vc / (vc + 5000)) AS BIGINT) AS p_milli, y
      |  FROM u
      |), b AS (
      |  SELECT CAST(floor(p_milli / 100) AS BIGINT) AS bin, y, p_milli,
      |    (p_milli - 1000 * y) * (p_milli - 1000 * y) AS sq
      |  FROM p
      |)
      |SELECT bin,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(y) AS BIGINT) AS n_pos,
      |  CAST(SUM(p_milli) AS BIGINT) AS sum_p_milli,
      |  CAST(SUM(sq) AS BIGINT) AS sum_sq,
      |  CAST(SUM(y) AS DOUBLE) / COUNT(*) AS acc,
      |  CAST(SUM(p_milli) AS DOUBLE) / (1000.0 * COUNT(*)) AS conf,
      |  ABS(CAST(SUM(y) AS DOUBLE) / COUNT(*)
      |    - CAST(SUM(p_milli) AS DOUBLE) / (1000.0 * COUNT(*))) AS abs_gap,
      |  CAST(SUM(sq) AS DOUBLE) / (1000000.0 * COUNT(*)) AS brier_bin
      |FROM b GROUP BY 1""".stripMargin,
    "reliability-diagram deciles + exact-integer Brier components") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .where(col("event_type").isin("purchase", "click") &&
          col("value").isNotNull)
        .select(floor(col("value") * 100).cast("long").as("vc"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      val p = u.select(
        floor(lit(1000) * col("vc") / (col("vc") + 5000)).cast("long")
          .as("p_milli"),
        col("y"))
      val b = p.select(
        floor(col("p_milli") / 100).cast("long").as("bin"),
        col("y"), col("p_milli"),
        ((col("p_milli") - lit(1000) * col("y")) *
          (col("p_milli") - lit(1000) * col("y"))).as("sq"))
      b.groupBy(col("bin"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("y")).cast("long").as("n_pos"),
          sum(col("p_milli")).cast("long").as("sum_p_milli"),
          sum(col("sq")).cast("long").as("sum_sq"))
        .select(col("bin"), col("n"), col("n_pos"), col("sum_p_milli"),
          col("sum_sq"),
          (col("n_pos").cast("double") / col("n")).as("acc"),
          (col("sum_p_milli").cast("double") / (lit(1000.0) * col("n")))
            .as("conf"),
          abs(col("n_pos").cast("double") / col("n")
            - col("sum_p_milli").cast("double") / (lit(1000.0) * col("n")))
            .as("abs_gap"),
          (col("sum_sq").cast("double") / (lit(1000000.0) * col("n")))
            .as("brier_bin"))
  }

  // ---------------------------------------------------------------- q225
  /** CUPED variance reduction (Deng et al. WSDM'13) — the adjusted A/B
    * readout every experimentation platform ships: per user the
    * PRE-period engagement (before the q163 cut) is the covariate X,
    * the post-period engagement the metric Y, θ = cov(X,Y)/var(X)
    * pooled over all users, and each arm's mean is shifted by
    * −θ·(X̄_arm − X̄). Same arms as q174 (user_id % 2), same cut as
    * q163 — the experiment stack composes.
    *
    * Exactness: per-user X, Y are bigint centi-unit sums; the pooled
    * moment sums ΣX², ΣXY accumulate in DECIMAL (order-independent —
    * per-user products pass 2⁶³ at corpus scale); θ, raw and adjusted
    * means are fixed-parenthesization double trees over those exact
    * aggregates, cast factor-by-factor (q189's discipline), emitted
    * raw. The hash gates n/Σx/Σy exactly, so a single lost user or
    * misassigned event flips the row.
    *
    * Scale shape: ONE user-keyed partial agg over the corpus (the same
    * exchange every per-user metric rides), then a 2-group agg + a
    * 1-row broadcast of the pooled moments. Nothing else moves. */
  val q225Cuped: Q = {
    val cut = "TIMESTAMP '2024-01-16 00:00:00'"
    Q.sql(
      "q225_cuped",
      s"""WITH u AS (
         |  SELECT user_id, user_id % 2 AS arm,
         |    CAST(SUM(CASE WHEN ts < $cut
         |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS x,
         |    CAST(SUM(CASE WHEN ts >= $cut
         |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS y
         |  FROM events WHERE value IS NOT NULL
         |  GROUP BY 1, 2
         |), a AS (
         |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
         |  FROM u GROUP BY 1
         |), g AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS gn,
         |    CAST(SUM(x) AS BIGINT) AS gsx, CAST(SUM(y) AS BIGINT) AS gsy,
         |    SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS gsxx,
         |    SUM(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))) AS gsxy
         |  FROM u
         |), t AS (
         |  SELECT gn, gsx,
         |    (CAST(gn AS DOUBLE) * CAST(gsxy AS DOUBLE)
         |      - CAST(gsx AS DOUBLE) * CAST(gsy AS DOUBLE))
         |    / (CAST(gn AS DOUBLE) * CAST(gsxx AS DOUBLE)
         |      - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE)) AS theta
         |  FROM g
         |)
         |SELECT CAST(arm AS BIGINT) AS arm, n, sx, sy, theta,
         |  CAST(sy AS DOUBLE) / n AS mean_raw,
         |  CAST(sy AS DOUBLE) / n
         |    - theta * (CAST(sx AS DOUBLE) / n - CAST(gsx AS DOUBLE) / gn)
         |    AS mean_adj
         |FROM a, t""".stripMargin,
      "CUPED pre-period covariate adjustment of per-arm engagement means") {
      (s, dir) =>
        val cutTs = lit("2024-01-16 00:00:00").cast("timestamp")
        val centi = floor(col("value") * 100).cast("long")
        val u = Tables(s, dir, "events").where(col("value").isNotNull)
          .groupBy(col("user_id"), pmod(col("user_id"), lit(2)).as("arm"))
          .agg(sum(when(col("ts") < cutTs, centi).otherwise(0L)).cast("long")
            .as("x"),
            sum(when(col("ts") >= cutTs, centi).otherwise(0L)).cast("long")
              .as("y"))
        val a = u.groupBy(col("arm"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("x")).cast("long").as("sx"),
            sum(col("y")).cast("long").as("sy"))
        val g = u.agg(count(lit(1)).cast("long").as("gn"),
          sum(col("x")).cast("long").as("gsx"),
          sum(col("y")).cast("long").as("gsy"),
          sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
            .as("gsxx"),
          sum(col("x").cast("decimal(18,0)") * col("y").cast("decimal(18,0)"))
            .as("gsxy"))
        val t = g.select(col("gn"), col("gsx"),
          ((col("gn").cast("double") * col("gsxy").cast("double")
            - col("gsx").cast("double") * col("gsy").cast("double"))
            / (col("gn").cast("double") * col("gsxx").cast("double")
              - col("gsx").cast("double") * col("gsx").cast("double")))
            .as("theta"))
        a.crossJoin(broadcast(t))
          .select(col("arm").cast("long").as("arm"), col("n"), col("sx"),
            col("sy"), col("theta"),
            (col("sy").cast("double") / col("n")).as("mean_raw"),
            (col("sy").cast("double") / col("n")
              - col("theta") * (col("sx").cast("double") / col("n")
                - col("gsx").cast("double") / col("gn"))).as("mean_adj"))
    }
  }

  // ---------------------------------------------------------------- q226
  /** RFM quintile segmentation — the classic CRM/customer-value cube
    * (Hughes '94): per customer recency (last order epoch-µs),
    * frequency (order count) and monetary (exact centi-unit spend),
    * each cut into quintiles by NTILE over a (metric, custkey) TOTAL
    * order so tile assignment is deterministic, then the ≤125-cell
    * (r_q, f_q, m_q) segment cube with exact customer counts and spend.
    *
    * Scale shape: the corpus collapses to the CUSTOMER dimension in one
    * partial agg; the three ntile windows sort that dimension-sized
    * frame (the q75 exact-rank floor — at extreme customer counts the
    * q182 bounded-histogram / q204 sketch quantile paths are the
    * recorded swap, trading exact tile edges for no global sort); the
    * final cube is a bounded partial agg. avg_monet is the one emitted
    * double, left-associated identically on both engines. */
  val q226RfmSegments: Q = Q.sql(
    "q226_rfm_segments",
    """WITH c AS (
      |  SELECT o_custkey AS custkey,
      |    CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS last_us,
      |    CAST(COUNT(*) AS BIGINT) AS freq,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS monet
      |  FROM orders GROUP BY 1
      |), q AS (
      |  SELECT monet,
      |    NTILE(5) OVER (ORDER BY last_us, custkey) AS r_q,
      |    NTILE(5) OVER (ORDER BY freq, custkey) AS f_q,
      |    NTILE(5) OVER (ORDER BY monet, custkey) AS m_q
      |  FROM c
      |)
      |SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
      |  CAST(m_q AS BIGINT) AS m_q,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(monet) AS BIGINT) AS total_monet_centi,
      |  CAST(SUM(monet) AS DOUBLE) / COUNT(*) / 100 AS avg_monet
      |FROM q GROUP BY 1, 2, 3""".stripMargin,
    "RFM quintile cube: deterministic ntile cuts, exact per-segment spend") {
    (s, dir) =>
      val c = Tables(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(unix_micros(col("o_orderdate").cast("timestamp"))).cast("long")
          .as("last_us"),
          count(lit(1)).cast("long").as("freq"),
          sum(floor(col("o_totalprice") * 100).cast("long")).cast("long")
            .as("monet"))
      // NTILE without the single-reducer sort of the customer dimension
      // (graft.ops.Ranks): exact global row_number via domain-bounded
      // bucket prefixes (epoch-day / order-count / centi-unit band) +
      // the ANSI tile closed form from (rank, n). Row-identical to the
      // ntile window — the unchanged oracle is the proof.
      val cn = c.crossJoin(broadcast(
        c.agg(count(lit(1)).cast("long").as("__n"))))
      val ranked = Seq[(String, Column, Seq[Column])](
        ("__rn_r", col("last_us") - pmod(col("last_us"), lit(86400000000L)),
          Seq(col("last_us"), col("custkey"))),
        ("__rn_f", col("freq"), Seq(col("freq"), col("custkey"))),
        ("__rn_m", floor(col("monet") / lit(1000000L)).cast("long"),
          Seq(col("monet"), col("custkey"))))
        .foldLeft(cn) { case (df, (rn, bkt, ord)) =>
          graft.ops.Ranks.withGlobalRowNumber(df, rn, bkt, ord)
        }
      val q = ranked.select(col("monet"),
        graft.ops.Ranks.ntileFromRank(col("__rn_r"), col("__n"), 5).as("r_q"),
        graft.ops.Ranks.ntileFromRank(col("__rn_f"), col("__n"), 5).as("f_q"),
        graft.ops.Ranks.ntileFromRank(col("__rn_m"), col("__n"), 5).as("m_q"))
      q.groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).cast("long").as("n_customers"),
          sum(col("monet")).cast("long").as("total_monet_centi"))
        .select(col("r_q").cast("long").as("r_q"),
          col("f_q").cast("long").as("f_q"),
          col("m_q").cast("long").as("m_q"),
          col("n_customers"), col("total_monet_centi"),
          (col("total_monet_centi").cast("double") / col("n_customers") / 100)
            .as("avg_monet"))
  }

  // ---------------------------------------------------------------- q227
  /** Dwell-time transition matrix — the TIME dimension q169's transition
    * PROBABILITIES lack: for every (from_type → to_type) step inside a
    * user's stream, exact integer-µs dwell mass and count, avg dwell the
    * one emitted division. The "how long do users sit in state A before
    * doing B" readout behind funnel latency budgets and session-timeout
    * tuning (the semi-Markov sojourn estimate beside the embedded-chain
    * probabilities).
    *
    * Scale shape: ONE user-keyed window exchange (the same shuffle
    * q169/q05/q156 ride — at 100 TB this family shares its
    * partitioning), then a ≤25-cell partial agg. Dwell sums are bigint
    * µs (wraps past ~292k user-years of cumulative dwell per cell —
    * not a real corpus). */
  val q227DwellTime: Q = Q.sql(
    "q227_dwell_time",
    """WITH s AS (
      |  SELECT user_id, event_type, ts,
      |    LEAD(event_type) OVER w AS next_type,
      |    LEAD(ts) OVER w AS next_ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT event_type AS from_type, next_type AS to_type,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(epoch_us(CAST(next_ts AS TIMESTAMP))
      |    - epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS dwell_us,
      |  CAST(SUM(epoch_us(CAST(next_ts AS TIMESTAMP))
      |    - epoch_us(CAST(ts AS TIMESTAMP))) AS DOUBLE) / COUNT(*)
      |    AS avg_dwell_us
      |FROM s WHERE next_type IS NOT NULL
      |GROUP BY 1, 2""".stripMargin,
    "per-transition exact dwell-time mass and mean sojourn before each step") {
    (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val st = Tables(s, dir, "events")
        .select(col("event_type"), col("ts"),
          lead(col("event_type"), 1).over(w).as("next_type"),
          lead(col("ts"), 1).over(w).as("next_ts"))
      st.filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(unix_micros(col("next_ts")) - unix_micros(col("ts")))
            .cast("long").as("dwell_us"))
        .select(col("from_type"), col("to_type"), col("n"), col("dwell_us"),
          (col("dwell_us").cast("double") / col("n")).as("avg_dwell_us"))
  }

  // ---------------------------------------------------------------- q229
  /** Data-slice deviation audit (the SliceFinder / model-QA shape,
    * Chung '19): cross the bounded attributes (event_type × 6-hour
    * daypart × arm) into ≤40 slices and rank them by how far the
    * slice's mean engagement sits from the global mean in
    * global-variance units — the "which data slice is broken /
    * underperforming" question every eval pipeline asks after the
    * aggregate metric moves.
    *
    * Counts and sums are exact (centi-unit bigints; the global Σv²
    * moment in DECIMAL — order-independent past 2⁶³); the z score is
    * one fixed-parenthesization double tree over those aggregates
    * (q189's sqrt discipline), and the ranking is over the BOUNDED
    * slice frame with full tiebreaks. Scale shape: one conditional
    * partial-agg corpus pass + a 1-row broadcast of the global
    * moments; the rank window sees ≤40 rows. */
  val q229SliceAudit: Q = Q.sql(
    "q229_slice_audit",
    """WITH e AS (
      |  SELECT event_type,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000) % 4 AS daypart,
      |    user_id % 2 AS arm,
      |    CAST(floor(value * 100) AS BIGINT) AS vc
      |  FROM events WHERE value IS NOT NULL
      |), g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS gn,
      |    CAST(SUM(vc) AS BIGINT) AS gs,
      |    SUM(CAST(vc AS DECIMAL(18,0)) * CAST(vc AS DECIMAL(18,0))) AS gss
      |  FROM e
      |), s AS (
      |  SELECT event_type, daypart, arm,
      |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(vc) AS BIGINT) AS sv
      |  FROM e GROUP BY 1, 2, 3
      |), z AS (
      |  SELECT event_type, CAST(daypart AS BIGINT) AS daypart,
      |    CAST(arm AS BIGINT) AS arm, n, sv,
      |    (CAST(sv AS DOUBLE) / n - CAST(gs AS DOUBLE) / gn)
      |      / sqrt((CAST(gss AS DOUBLE) / gn
      |        - (CAST(gs AS DOUBLE) / gn) * (CAST(gs AS DOUBLE) / gn)) / n)
      |      AS z
      |  FROM s, g
      |)
      |SELECT event_type, daypart, arm, n, sv, z, CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY abs(z) DESC,
      |        event_type, daypart, arm) AS rnk FROM z)
      |WHERE rnk <= 20""".stripMargin,
    "slices ranked by global-variance-unit deviation of mean engagement") {
    (s, dir) =>
      val e = Tables(s, dir, "events").where(col("value").isNotNull)
        .select(col("event_type"),
          (floor(unix_micros(col("ts")) / 21600000000L).cast("long") % 4)
            .as("daypart"),
          pmod(col("user_id"), lit(2)).as("arm"),
          floor(col("value") * 100).cast("long").as("vc"))
      val g = e.agg(count(lit(1)).cast("long").as("gn"),
        sum(col("vc")).cast("long").as("gs"),
        sum(col("vc").cast("decimal(18,0)") * col("vc").cast("decimal(18,0)"))
          .as("gss"))
      val sl = e.groupBy(col("event_type"), col("daypart"), col("arm"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("vc")).cast("long").as("sv"))
      val gm = col("gs").cast("double") / col("gn")
      val wr = Window.orderBy(abs(col("z")).desc,
        col("event_type"), col("daypart"), col("arm"))
      sl.crossJoin(broadcast(g))
        .select(col("event_type"), col("daypart").cast("long").as("daypart"),
          col("arm").cast("long").as("arm"), col("n"), col("sv"),
          ((col("sv").cast("double") / col("n") - gm)
            / sqrt((col("gss").cast("double") / col("gn") - gm * gm)
              / col("n"))).as("z"))
        .withColumn("rnk", row_number().over(wr).cast("long"))
        .filter(col("rnk") <= 20)
  }

  // ---------------------------------------------------------------- q230
  /** Post-stratified A/B estimator — CUPED's nonparametric sibling
    * (Miratrix '13): users are cut into quintiles of PRE-period
    * engagement (q225's covariate, q226's deterministic NTILE
    * discipline), the arm contrast is taken WITHIN each stratum, and
    * the overall effect is the stratum-share-weighted sum of the
    * per-stratum diffs — removing the covariate imbalance a small
    * experiment inherits without assuming the linear model θ encodes.
    * Emitted per stratum: exact counts and centi-unit sums, the diff,
    * the weight, and the weighted contribution (the overall estimate is
    * their sum — each term gated).
    *
    * Scale shape: the same single user-keyed partial agg as q225; the
    * NTILE sorts only the USER dimension (q226's recorded trade); the
    * stratum×arm roll-up is a ≤10-group partial agg with a 1-row total
    * broadcast. All doubles are fixed-order divisions at emission. */
  val q230PostStratified: Q = {
    val cut = "TIMESTAMP '2024-01-16 00:00:00'"
    Q.sql(
      "q230_post_stratified",
      s"""WITH u AS (
         |  SELECT user_id, user_id % 2 AS arm,
         |    CAST(SUM(CASE WHEN ts < $cut
         |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS x,
         |    CAST(SUM(CASE WHEN ts >= $cut
         |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS y
         |  FROM events WHERE value IS NOT NULL
         |  GROUP BY 1, 2
         |), q AS (
         |  SELECT arm, y, NTILE(5) OVER (ORDER BY x, user_id) AS stratum
         |  FROM u
         |), s AS (
         |  SELECT stratum,
         |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
         |    CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
         |  FROM q GROUP BY 1
         |), t AS (
         |  SELECT CAST(SUM(n_a + n_b) AS BIGINT) AS n_tot FROM s
         |)
         |SELECT CAST(stratum AS BIGINT) AS stratum, n_a, n_b, sy_a, sy_b,
         |  CAST(sy_b AS DOUBLE) / n_b - CAST(sy_a AS DOUBLE) / n_a AS diff,
         |  CAST(n_a + n_b AS DOUBLE) / n_tot AS w,
         |  (CAST(sy_b AS DOUBLE) / n_b - CAST(sy_a AS DOUBLE) / n_a)
         |    * (CAST(n_a + n_b AS DOUBLE) / n_tot) AS contribution
         |FROM s, t""".stripMargin,
      "arm contrast within pre-period strata, share-weighted contributions") {
      (s, dir) =>
        val cutTs = lit("2024-01-16 00:00:00").cast("timestamp")
        val centi = floor(col("value") * 100).cast("long")
        val u = Tables(s, dir, "events").where(col("value").isNotNull)
          .groupBy(col("user_id"), pmod(col("user_id"), lit(2)).as("arm"))
          .agg(sum(when(col("ts") < cutTs, centi).otherwise(0L)).cast("long")
            .as("x"),
            sum(when(col("ts") >= cutTs, centi).otherwise(0L)).cast("long")
              .as("y"))
        // quintile strata without the single-reducer user-dimension sort
        // (graft.ops.Ranks, q226's respelling): bucket = pre-period
        // centi-spend band, exact rank + closed-form tile
        val un = u.crossJoin(broadcast(
          u.agg(count(lit(1)).cast("long").as("__n"))))
        val ranked = graft.ops.Ranks.withGlobalRowNumber(un, "__rn",
          floor(col("x") / lit(10000L)).cast("long"),
          Seq(col("x"), col("user_id")))
        val q = ranked.select(col("arm"), col("y"),
          graft.ops.Ranks.ntileFromRank(col("__rn"), col("__n"), 5)
            .as("stratum"))
        val st = q.groupBy(col("stratum"))
          .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("long")
            .as("n_a"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("long")
              .as("n_b"),
            sum(when(col("arm") === 0, col("y")).otherwise(0L)).cast("long")
              .as("sy_a"),
            sum(when(col("arm") === 1, col("y")).otherwise(0L)).cast("long")
              .as("sy_b"))
        val t = st.agg(sum(col("n_a") + col("n_b")).cast("long").as("n_tot"))
        val diff = col("sy_b").cast("double") / col("n_b") -
          col("sy_a").cast("double") / col("n_a")
        val w = (col("n_a") + col("n_b")).cast("double") / col("n_tot")
        st.crossJoin(broadcast(t))
          .select(col("stratum").cast("long").as("stratum"), col("n_a"),
            col("n_b"), col("sy_a"), col("sy_b"), diff.as("diff"), w.as("w"),
            (diff * w).as("contribution"))
    }
  }

  // ---------------------------------------------------------------- q233
  /** Growth-accounting ledger — the DAU decomposition every product
    * dashboard runs (new / retained / resurrected per day, churned
    * attributed to the day AFTER last activity): active(d) = new(d) +
    * retained(d) + resurrected(d), with churn right-censored at the
    * feed's end (users last active on the final day aren't declared
    * churned — the day that would prove it hasn't happened). The
    * roll-forward identity active(d) = active(d−1) − churned(d) +
    * new(d) + resurrected(d) holds exactly on the output, so the hash
    * gate is also an internal-consistency proof.
    *
    * Distinct (user, day) pairs collapse in one partial agg; first/
    * prev/next-day derivations ride ONE user exchange (three window
    * functions, same partitioning); the daily ledger is a
    * day-bounded roll-up joined once on day. All integer. */
  val q233GrowthAccounting: Q = Q.sql(
    "q233_growth_accounting",
    """WITH d AS (
      |  SELECT DISTINCT user_id,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS day
      |  FROM events
      |), f AS (
      |  SELECT user_id, day,
      |    MIN(day) OVER (PARTITION BY user_id) AS first_day,
      |    LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
      |    LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      |  FROM d
      |), c AS (
      |  SELECT day,
      |    CAST(COUNT(*) AS BIGINT) AS active,
      |    CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
      |      AS new_users,
      |    CAST(SUM(CASE WHEN day > first_day AND prev_day = day - 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS retained,
      |    CAST(SUM(CASE WHEN day > first_day AND prev_day < day - 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
      |  FROM f GROUP BY 1
      |), ch AS (
      |  SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS churned
      |  FROM f
      |  WHERE next_day IS NULL OR next_day > day + 1
      |  GROUP BY 1
      |)
      |SELECT CAST(c.day AS BIGINT) AS day, active, new_users, retained,
      |  resurrected,
      |  CAST(COALESCE(ch.churned, 0) AS BIGINT) AS churned_from_prev
      |FROM c LEFT JOIN ch ON ch.day = c.day""".stripMargin,
    "daily DAU decomposition: new/retained/resurrected plus prior-day churn") {
    (s, dir) =>
      val d = Tables(s, dir, "events")
        .select(col("user_id"),
          floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
        .distinct()
      val wU = Window.partitionBy(col("user_id"))
      val wO = wU.orderBy(col("day"))
      val f = d.select(col("user_id"), col("day"),
        min(col("day")).over(wU).as("first_day"),
        lag(col("day"), 1).over(wO).as("prev_day"),
        lead(col("day"), 1).over(wO).as("next_day"))
      val c = f.groupBy(col("day"))
        .agg(count(lit(1)).cast("long").as("active"),
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .cast("long").as("new_users"),
          sum(when(col("day") > col("first_day") &&
            col("prev_day") === col("day") - 1, 1L).otherwise(0L))
            .cast("long").as("retained"),
          sum(when(col("day") > col("first_day") &&
            col("prev_day") < col("day") - 1, 1L).otherwise(0L))
            .cast("long").as("resurrected"))
      val ch = f.filter(col("next_day").isNull ||
          col("next_day") > col("day") + 1)
        .groupBy((col("day") + 1).as("day"))
        .agg(count(lit(1)).cast("long").as("churned"))
      c.join(ch, Seq("day"), "left")
        .select(col("day").cast("long").as("day"), col("active"),
          col("new_users"), col("retained"), col("resurrected"),
          coalesce(col("churned"), lit(0L)).cast("long")
            .as("churned_from_prev"))
  }

  // ---------------------------------------------------------------- q234
  /** Cumulative gains / lift chart — the third leg of the score-eval
    * tripod (q216 AUC ranks, q218 checks calibration, this answers the
    * TARGETING question: "if we act on the top k score deciles, what
    * share of conversions do we capture, at what lift over random?").
    * Same quantized score and deciles as q218, so the three reports
    * describe one model.
    *
    * Per decile (highest score first): exact n/pos and their running
    * sums; gain = cum_pos/tot_pos and lift = (cum_pos/cum_n)/
    * (tot_pos/tot_n) are fixed-order divisions at emission. Scale
    * shape: ONE conditional partial agg over the corpus to ≤10 rows;
    * both windows (running + total) ride that bounded frame — nothing
    * corpus-sized is sorted or shuffled twice. */
  val q234GainsChart: Q = Q.sql(
    "q234_gains_chart",
    """WITH u AS (
      |  SELECT CAST(floor(value * 100) AS BIGINT) AS vc,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events
      |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
      |), p AS (
      |  SELECT CAST(floor(1000 * vc / (vc + 5000)) AS BIGINT) AS p_milli, y
      |  FROM u
      |), b AS (
      |  SELECT CAST(floor(p_milli / 100) AS BIGINT) AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
      |  FROM p GROUP BY 1
      |), c AS (
      |  SELECT bin, n, pos,
      |    SUM(n) OVER (ORDER BY bin DESC) AS cum_n,
      |    SUM(pos) OVER (ORDER BY bin DESC) AS cum_pos,
      |    SUM(n) OVER () AS tot_n,
      |    SUM(pos) OVER () AS tot_pos
      |  FROM b
      |)
      |SELECT bin, n, pos,
      |  CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_pos AS BIGINT) AS cum_pos,
      |  CAST(cum_pos AS DOUBLE) / tot_pos AS gain,
      |  (CAST(cum_pos AS DOUBLE) / cum_n)
      |    / (CAST(tot_pos AS DOUBLE) / tot_n) AS lift
      |FROM c""".stripMargin,
    "per-decile cumulative conversion capture and lift over random") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .where(col("event_type").isin("purchase", "click") &&
          col("value").isNotNull)
        .select(floor(col("value") * 100).cast("long").as("vc"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      val p = u.select(
        floor(lit(1000) * col("vc") / (col("vc") + 5000)).cast("long")
          .as("p_milli"), col("y"))
      val b = p.groupBy(floor(col("p_milli") / 100).cast("long").as("bin"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("y")).cast("long").as("pos"))
      val wCum = Window.orderBy(col("bin").desc)
      val wAll = Window.partitionBy()
      b.select(col("bin"), col("n"), col("pos"),
          sum(col("n")).over(wCum).as("cum_n"),
          sum(col("pos")).over(wCum).as("cum_pos"),
          sum(col("n")).over(wAll).as("tot_n"),
          sum(col("pos")).over(wAll).as("tot_pos"))
        .select(col("bin"), col("n"), col("pos"),
          col("cum_n").cast("long").as("cum_n"),
          col("cum_pos").cast("long").as("cum_pos"),
          (col("cum_pos").cast("double") / col("tot_pos")).as("gain"),
          ((col("cum_pos").cast("double") / col("cum_n"))
            / (col("tot_pos").cast("double") / col("tot_n"))).as("lift"))
  }

  // ---------------------------------------------------------------- q235
  /** Histogram-based decision-stump split finding — the distributed-GBDT
    * core primitive (LightGBM/XGBoost `hist` method: quantize the
    * feature, build a per-bin (n, positives) histogram with ONE
    * map-side-combined pass, then evaluate every candidate split on the
    * bounded histogram — never on rows). Feature = q218's quantized
    * milli-score, label = purchase-vs-click, so the eval family
    * (q216/q218/q234) and the training family describe one model.
    *
    * Every candidate split s ("bin ≤ s goes left") gets exact bigint
    * child counts off two cumsum windows on the ≤20-bin frame; Gini
    * impurities and the parent−weighted-children gain are fixed-
    * parenthesization double trees over those integers (one division
    * per term, correctly rounded in both engines — the q229 ranking
    * discipline), ranked with a split tiebreak. Scale shape: the corpus
    * is touched by ONE conditional partial agg to ≤20 rows; every
    * window rides that bounded frame. A 1000-feature forest iteration
    * is 1000 such histograms in one wide agg — the shape is the
    * at-scale answer, not a toy. */
  val q235SplitFinding: Q = Q.sql(
    "q235_split_finding",
    """WITH u AS (
      |  SELECT CAST(floor(value * 100) AS BIGINT) AS vc,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events
      |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
      |), b AS (
      |  SELECT CAST(floor(floor(1000 * vc / (vc + 5000)) / 50) AS BIGINT)
      |    AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
      |  FROM u GROUP BY 1
      |), c AS (
      |  SELECT bin,
      |    CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS n_l,
      |    CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS pos_l,
      |    CAST(SUM(n) OVER () AS BIGINT) AS n_tot,
      |    CAST(SUM(pos) OVER () AS BIGINT) AS pos_tot,
      |    CAST(MAX(bin) OVER () AS BIGINT) AS max_bin
      |  FROM b
      |), s AS (
      |  SELECT bin AS split, n_l, pos_l,
      |    n_tot - n_l AS n_r, pos_tot - pos_l AS pos_r, n_tot, pos_tot
      |  FROM c WHERE bin < max_bin
      |), g AS (
      |  SELECT split, n_l, pos_l, n_r, pos_r,
      |    CAST(1 AS DOUBLE)
      |      - ((CAST(pos_l AS DOUBLE) / n_l) * (CAST(pos_l AS DOUBLE) / n_l)
      |        + (CAST(n_l - pos_l AS DOUBLE) / n_l)
      |          * (CAST(n_l - pos_l AS DOUBLE) / n_l)) AS gini_l,
      |    CAST(1 AS DOUBLE)
      |      - ((CAST(pos_r AS DOUBLE) / n_r) * (CAST(pos_r AS DOUBLE) / n_r)
      |        + (CAST(n_r - pos_r AS DOUBLE) / n_r)
      |          * (CAST(n_r - pos_r AS DOUBLE) / n_r)) AS gini_r,
      |    CAST(1 AS DOUBLE)
      |      - ((CAST(pos_tot AS DOUBLE) / n_tot)
      |          * (CAST(pos_tot AS DOUBLE) / n_tot)
      |        + (CAST(n_tot - pos_tot AS DOUBLE) / n_tot)
      |          * (CAST(n_tot - pos_tot AS DOUBLE) / n_tot)) AS gini_p,
      |    CAST(n_l AS DOUBLE) / n_tot AS w_l,
      |    CAST(n_r AS DOUBLE) / n_tot AS w_r
      |  FROM s
      |), e AS (
      |  SELECT split, n_l, pos_l, n_r, pos_r, gini_l, gini_r,
      |    gini_p - (w_l * gini_l + w_r * gini_r) AS gain
      |  FROM g
      |)
      |SELECT split, n_l, pos_l, n_r, pos_r, gini_l, gini_r, gain,
      |  CAST(ROW_NUMBER() OVER (ORDER BY gain DESC, split) AS BIGINT) AS rnk
      |FROM e""".stripMargin,
    "exact Gini gain of every histogram split candidate, ranked") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .where(col("event_type").isin("purchase", "click") &&
          col("value").isNotNull)
        .select(floor(col("value") * 100).cast("long").as("vc"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      val b = u.groupBy(
          floor(floor(lit(1000) * col("vc") / (col("vc") + 5000)) / 50)
            .cast("long").as("bin"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("y")).cast("long").as("pos"))
      val wCum = Window.orderBy(col("bin"))
      val wAll = Window.partitionBy()
      val c = b.select(col("bin"),
        sum(col("n")).over(wCum).cast("long").as("n_l"),
        sum(col("pos")).over(wCum).cast("long").as("pos_l"),
        sum(col("n")).over(wAll).cast("long").as("n_tot"),
        sum(col("pos")).over(wAll).cast("long").as("pos_tot"),
        max(col("bin")).over(wAll).cast("long").as("max_bin"))
      val sp = c.where(col("bin") < col("max_bin"))
        .select(col("bin").as("split"), col("n_l"), col("pos_l"),
          (col("n_tot") - col("n_l")).as("n_r"),
          (col("pos_tot") - col("pos_l")).as("pos_r"),
          col("n_tot"), col("pos_tot"))
      // identical parenthesization to the oracle: p*p + q*q inside, the
      // 1-minus outside; each division correctly rounded IEEE
      def gini(p: Column, n: Column): Column =
        lit(1).cast("double") -
          ((p.cast("double") / n) * (p.cast("double") / n) +
            ((n - p).cast("double") / n) * ((n - p).cast("double") / n))
      val g = sp.select(col("split"), col("n_l"), col("pos_l"), col("n_r"),
        col("pos_r"),
        gini(col("pos_l"), col("n_l")).as("gini_l"),
        gini(col("pos_r"), col("n_r")).as("gini_r"),
        gini(col("pos_tot"), col("n_tot")).as("gini_p"),
        (col("n_l").cast("double") / col("n_tot")).as("w_l"),
        (col("n_r").cast("double") / col("n_tot")).as("w_r"))
      val e = g.select(col("split"), col("n_l"), col("pos_l"), col("n_r"),
        col("pos_r"), col("gini_l"), col("gini_r"),
        (col("gini_p") - (col("w_l") * col("gini_l") +
          col("w_r") * col("gini_r"))).as("gain"))
      e.select(col("split"), col("n_l"), col("pos_l"), col("n_r"),
        col("pos_r"), col("gini_l"), col("gini_r"), col("gain"),
        row_number().over(Window.orderBy(col("gain").desc, col("split")))
          .cast("long").as("rnk"))
  }

  // ---------------------------------------------------------------- q236
  /** Kaplan–Meier survival curve for time-to-first-purchase — the
    * right-censoring-correct conversion estimate (a naive "mean hours to
    * purchase over converters" is biased optimistic: users who never
    * converted carry information — they survived AT LEAST their observed
    * span — and KM is the standard way to count it; q233's censoring
    * idea graduated to the full estimator).
    *
    * Per user: t = hours from first activity to first purchase (event)
    * or to last activity (censored). At each distinct t: d deaths,
    * c censored, n_risk = survivors entering t; the survival product
    * S(t) = Π_{t'≤t} (n−d)/n folds LEFT-ASSOCIATED over the ordered
    * factor list on both engines (Spark `aggregate` HOF seeded 1.0 ≡
    * DuckDB `list_reduce` seeded with the first element, since 1.0·f =
    * f exactly), each factor one correctly-rounded division — the q187
    * fixed-fold discipline. Scale shape: the corpus collapses to the
    * user dimension in ONE partial agg; the time histogram is a second
    * partial agg to a span-bounded frame (≤ hours in the feed); the
    * fold and windows ride that bounded frame only. */
  val q236KaplanMeier: Q = Q.sql(
    "q236_kaplan_meier",
    """WITH u AS (
      |  SELECT user_id,
      |    MIN(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) AS first_h,
      |    MAX(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) AS last_h,
      |    MIN(CASE WHEN event_type = 'purchase'
      |      THEN epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 END) AS conv_h
      |  FROM events GROUP BY 1
      |), obs AS (
      |  SELECT CASE WHEN conv_h IS NOT NULL THEN conv_h - first_h
      |           ELSE last_h - first_h END AS t,
      |    CASE WHEN conv_h IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM u
      |), h AS (
      |  SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
      |    CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c
      |  FROM obs GROUP BY 1
      |), r AS (
      |  SELECT t, d, c,
      |    CAST(SUM(d + c) OVER () -
      |      COALESCE(SUM(d + c) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS n_risk,
      |    CAST(COUNT(*) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS k
      |  FROM h
      |), f AS MATERIALIZED (
      |  SELECT t, d, c, n_risk, k,
      |    CAST(n_risk - d AS DOUBLE) / n_risk AS factor
      |  FROM r
      |), al AS (
      |  SELECT list(factor ORDER BY t) AS fs FROM f
      |)
      |SELECT CAST(t AS BIGINT) AS t_hours, n_risk, d AS events,
      |  c AS censored, list_reduce(fs[:k], (a, b) -> a * b) AS survival
      |FROM f, al""".stripMargin,
    "right-censored time-to-first-purchase survival curve") { (s, dir) =>
    val hourCol = floor(unix_micros(col("ts")) / 3600000000L).cast("long")
    val u = Tables(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(min(hourCol).as("first_h"), max(hourCol).as("last_h"),
        min(when(col("event_type") === "purchase", hourCol)).as("conv_h"))
    val obs = u.select(
      when(col("conv_h").isNotNull, col("conv_h") - col("first_h"))
        .otherwise(col("last_h") - col("first_h")).as("t"),
      when(col("conv_h").isNotNull, 1L).otherwise(0L).as("ev"))
    val h = obs.groupBy(col("t"))
      .agg(sum(col("ev")).cast("long").as("d"),
        (count(lit(1)) - sum(col("ev"))).cast("long").as("c"))
    val wAll = Window.partitionBy()
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCur = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = h.select(col("t"), col("d"), col("c"),
      (sum(col("d") + col("c")).over(wAll) -
        coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
        .cast("long").as("n_risk"),
      count(lit(1)).over(wCur).cast("long").as("k"))
    val f = r.select(col("t"), col("d"), col("c"), col("n_risk"), col("k"),
      ((col("n_risk") - col("d")).cast("double") / col("n_risk"))
        .as("factor"))
    // ordered factor list, one bounded row, broadcast back onto the frame
    val al = f.agg(transform(
      sort_array(collect_list(struct(col("t"), col("factor")))),
      x => x.getField("factor")).as("fs"))
    f.crossJoin(broadcast(al))
      .select(col("t").cast("long").as("t_hours"), col("n_risk"),
        col("d").as("events"), col("c").as("censored"),
        aggregate(slice(col("fs"), lit(1), col("k").cast("int")),
          lit(1.0), (acc, x) => acc * x).as("survival"))
  }

  // ---------------------------------------------------------------- q237
  /** Zone-map data-skipping audit — the lakehouse layout question
    * answered with numbers: partition the corpus into 64 "files" under
    * three layouts (time-range, user-range, and q153's z-order
    * interleave of 8 time × 8 user buckets), build per-file min/max
    * zone maps, and replay two predicate classes (a one-day time
    * window, a single-user lookup) against the maps. The output is the
    * files/rows each layout lets the scanner SKIP — on the fixture:
    * time layout 3/64 files for the time predicate but 64/64 for the
    * user lookup, user layout the exact mirror, z-order 8/64 for BOTH
    * (the Morton guarantee q153's spec proves, here priced in rows).
    *
    * Scale shape: file assignment is map-side integer arithmetic off a
    * 1-row bounds broadcast; all three layouts' zone maps build in ONE
    * corpus pass via GROUPING SETS (grouping flags name the layout);
    * the audit itself touches only the ≤192-row file-stats frame. All
    * counts exact bigints; `div` keeps bucket math exact integer
    * division on both engines. */
  val q237ZoneMapAudit: Q = Q.sql(
    "q237_zonemap_audit",
    """WITH bounds AS (
      |  SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
      |    MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS t1,
      |    MAX(user_id) AS mu
      |  FROM events
      |), e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tu, user_id,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) - t0) * 64 // (t1 - t0 + 1)
      |      AS f_time,
      |    user_id * 64 // (mu + 1) AS f_user,
      |    ((epoch_us(CAST(ts AS TIMESTAMP)) - t0) * 8 // (t1 - t0 + 1))
      |      AS tb,
      |    (user_id * 8 // (mu + 1)) AS ub,
      |    t0
      |  FROM events, bounds
      |), z AS (
      |  SELECT tu, user_id, f_time, f_user, t0,
      |    (tb % 2) + 2 * (ub % 2) + 4 * ((tb // 2) % 2)
      |      + 8 * ((ub // 2) % 2) + 16 * ((tb // 4) % 2)
      |      + 32 * ((ub // 4) % 2) AS f_z
      |  FROM e
      |), zm AS MATERIALIZED (
      |  SELECT f_time, f_user, f_z,
      |    CASE WHEN GROUPING(f_user) = 0 THEN 'user'
      |         WHEN GROUPING(f_z) = 0 THEN 'zorder' ELSE 'time' END
      |      AS layout,
      |    MIN(tu) AS min_tu, MAX(tu) AS max_tu,
      |    CAST(MIN(user_id) AS BIGINT) AS min_u,
      |    CAST(MAX(user_id) AS BIGINT) AS max_u,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN tu >= t0 + 10*86400000000
      |      AND tu < t0 + 11*86400000000 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS m_time,
      |    CAST(SUM(CASE WHEN user_id = 42 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS m_user,
      |    MIN(t0) AS t0
      |  FROM z GROUP BY GROUPING SETS ((f_time), (f_user), (f_z))
      |)
      |SELECT layout, 'ts_day10' AS predicate,
      |  CAST(COUNT(*) AS BIGINT) AS files_total,
      |  CAST(SUM(CASE WHEN max_tu >= t0 + 10*86400000000
      |    AND min_tu < t0 + 11*86400000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS files_scanned,
      |  CAST(SUM(CASE WHEN max_tu >= t0 + 10*86400000000
      |    AND min_tu < t0 + 11*86400000000 THEN n ELSE 0 END) AS BIGINT)
      |    AS rows_scanned,
      |  CAST(SUM(m_time) AS BIGINT) AS rows_matched
      |FROM zm GROUP BY 1
      |UNION ALL
      |SELECT layout, 'user_eq_42',
      |  CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(CASE WHEN max_u >= 42 AND min_u <= 42 THEN 1 ELSE 0 END)
      |    AS BIGINT),
      |  CAST(SUM(CASE WHEN max_u >= 42 AND min_u <= 42 THEN n ELSE 0 END)
      |    AS BIGINT),
      |  CAST(SUM(m_user) AS BIGINT)
      |FROM zm GROUP BY 1""".stripMargin,
    "files/rows skipped by zone maps under time, user and z-order layouts") {
    (s, dir) =>
      val dayUs = 86400000000L
      val ev = Tables(s, dir, "events")
        .select(unix_micros(col("ts")).as("tu"), col("user_id"))
      val bounds = ev.agg(min(col("tu")).as("t0"), max(col("tu")).as("t1"),
        max(col("user_id")).as("mu"))
      val e = ev.crossJoin(broadcast(bounds)).select(col("tu"),
        col("user_id"),
        expr("(tu - t0) * 64 div (t1 - t0 + 1)").as("f_time"),
        expr("user_id * 64 div (mu + 1)").as("f_user"),
        expr("(tu - t0) * 8 div (t1 - t0 + 1)").as("tb"),
        expr("user_id * 8 div (mu + 1)").as("ub"), col("t0"))
      val z = e.select(col("tu"), col("user_id"), col("f_time"),
        col("f_user"), col("t0"),
        expr("(tb % 2) + 2 * (ub % 2) + 4 * ((tb div 2) % 2)" +
          " + 8 * ((ub div 2) % 2) + 16 * ((tb div 4) % 2)" +
          " + 32 * ((ub div 4) % 2)").as("f_z"))
      val zm = z.groupingSets(
          Seq(Seq(col("f_time")), Seq(col("f_user")), Seq(col("f_z"))),
          col("f_time"), col("f_user"), col("f_z"))
        .agg(
          when(grouping(col("f_user")) === 0, "user")
            .when(grouping(col("f_z")) === 0, "zorder")
            .otherwise("time").as("layout"),
          min(col("tu")).as("min_tu"), max(col("tu")).as("max_tu"),
          min(col("user_id")).cast("long").as("min_u"),
          max(col("user_id")).cast("long").as("max_u"),
          count(lit(1)).cast("long").as("n"),
          sum(when(col("tu") >= col("t0") + 10 * dayUs &&
            col("tu") < col("t0") + 11 * dayUs, 1L).otherwise(0L))
            .cast("long").as("m_time"),
          sum(when(col("user_id") === 42, 1L).otherwise(0L))
            .cast("long").as("m_user"),
          min(col("t0")).as("t0"))
      val tPred = zm.groupBy(col("layout"))
        .agg(count(lit(1)).cast("long").as("files_total"),
          sum(when(col("max_tu") >= col("t0") + 10 * dayUs &&
            col("min_tu") < col("t0") + 11 * dayUs, 1L).otherwise(0L))
            .cast("long").as("files_scanned"),
          sum(when(col("max_tu") >= col("t0") + 10 * dayUs &&
            col("min_tu") < col("t0") + 11 * dayUs, col("n"))
            .otherwise(0L)).cast("long").as("rows_scanned"),
          sum(col("m_time")).cast("long").as("rows_matched"))
        .select(col("layout"), lit("ts_day10").as("predicate"),
          col("files_total"), col("files_scanned"), col("rows_scanned"),
          col("rows_matched"))
      val uPred = zm.groupBy(col("layout"))
        .agg(count(lit(1)).cast("long").as("files_total"),
          sum(when(col("max_u") >= 42 && col("min_u") <= 42, 1L)
            .otherwise(0L)).cast("long").as("files_scanned"),
          sum(when(col("max_u") >= 42 && col("min_u") <= 42, col("n"))
            .otherwise(0L)).cast("long").as("rows_scanned"),
          sum(col("m_user")).cast("long").as("rows_matched"))
        .select(col("layout"), lit("user_eq_42").as("predicate"),
          col("files_total"), col("files_scanned"), col("rows_scanned"),
          col("rows_matched"))
      tPred.unionByName(uPred)
  }

  // ---------------------------------------------------------------- q240
  /** Naive Bayes classifier, trained AND evaluated exactly — the
    * count-based baseline classifier every labeling pipeline starts
    * from (and the q217 label-noise audit's natural companion):
    * predict purchase-vs-click from two categorical features (daypart
    * = hour div 4, value bin = q218's milli-score decile), Laplace +1
    * smoothing, 80/20 md5 split (q221's discipline).
    *
    * The decision P(pos)·Π P(f|pos) vs P(neg)·Π P(f|neg) never touches
    * a float: cross-multiplying the smoothed likelihood fractions gives
    * one exact product comparison per cell — Spark DECIMAL(38,0) ≡
    * DuckDB HUGEINT for the intermediates (5 factors ≤ 1e7 each stay
    * inside both), ties break to 'click' deterministically. Scale
    * shape: training is two conditional partial aggs to class- and
    * feature-bounded frames; the test corpus collapses to the ≤60-cell
    * (f1, f2) grid in one partial agg; conditionals join back as
    * broadcasts. At 100 TB the same shapes hold — NB training IS a
    * partial-agg histogram. */
  val q240NaiveBayes: Q = Q.sql(
    "q240_naive_bayes",
    """WITH u AS MATERIALIZED (
      |  SELECT ((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24) // 4
      |      AS f1,
      |    CAST(floor(1000 * CAST(floor(value * 100) AS BIGINT)
      |      / (CAST(floor(value * 100) AS BIGINT) + 5000)) AS BIGINT) // 100
      |      AS f2,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
      |    ('0x' || substr(md5('smp|' || CAST(event_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 100 < 20 AS is_test
      |  FROM events
      |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
      |), pri AS (
      |  SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
      |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
      |  FROM u WHERE NOT is_test
      |), c1 AS (
      |  SELECT f1, CAST(SUM(y) AS BIGINT) AS c1p,
      |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS c1n
      |  FROM u WHERE NOT is_test GROUP BY 1
      |), c2 AS (
      |  SELECT f2, CAST(SUM(y) AS BIGINT) AS c2p,
      |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS c2n
      |  FROM u WHERE NOT is_test GROUP BY 1
      |), cells AS (
      |  SELECT f1, f2, CAST(COUNT(*) AS BIGINT) AS n_test,
      |    CAST(SUM(y) AS BIGINT) AS pos_actual
      |  FROM u WHERE is_test GROUP BY 1, 2
      |), j AS (
      |  SELECT cells.f1, cells.f2, n_test, pos_actual, n_pos, n_neg,
      |    COALESCE(c1p, 0) AS c1p, COALESCE(c1n, 0) AS c1n,
      |    COALESCE(c2p, 0) AS c2p, COALESCE(c2n, 0) AS c2n
      |  FROM cells
      |  LEFT JOIN c1 ON c1.f1 = cells.f1
      |  LEFT JOIN c2 ON c2.f2 = cells.f2
      |  CROSS JOIN pri
      |), d AS (
      |  SELECT f1, f2, n_test, pos_actual,
      |    CAST(n_pos AS HUGEINT) * (c1p + 1) * (c2p + 1)
      |      * (n_neg + 6) * (n_neg + 10) AS lp,
      |    CAST(n_neg AS HUGEINT) * (c1n + 1) * (c2n + 1)
      |      * (n_pos + 6) * (n_pos + 10) AS ln
      |  FROM j
      |)
      |SELECT CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2, n_test,
      |  pos_actual,
      |  CASE WHEN lp > ln THEN 'purchase' ELSE 'click' END AS pred,
      |  CASE WHEN lp > ln THEN pos_actual ELSE n_test - pos_actual END
      |    AS n_correct
      |FROM d""".stripMargin,
    "exact-integer Laplace Naive Bayes: train on 80%, score held-out cells") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .where(col("event_type").isin("purchase", "click") &&
          col("value").isNotNull)
        .select(
          expr("((unix_micros(ts) div 3600000000) % 24) div 4").as("f1"),
          expr("floor(1000 * cast(floor(value * 100) as bigint)" +
            " / (cast(floor(value * 100) as bigint) + 5000)) div 100")
            .as("f2"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
          (graft.ops.Text.baseHash(
            concat(lit("smp|"), col("event_id").cast("string"))) % 100 < 20)
            .as("is_test"))
      val train = u.where(!col("is_test"))
      val pri = train.agg(sum(col("y")).cast("long").as("n_pos"),
        (count(lit(1)) - sum(col("y"))).cast("long").as("n_neg"))
      val c1 = train.groupBy(col("f1"))
        .agg(sum(col("y")).cast("long").as("c1p"),
          (count(lit(1)) - sum(col("y"))).cast("long").as("c1n"))
      val c2 = train.groupBy(col("f2"))
        .agg(sum(col("y")).cast("long").as("c2p"),
          (count(lit(1)) - sum(col("y"))).cast("long").as("c2n"))
      val cells = u.where(col("is_test"))
        .groupBy(col("f1"), col("f2"))
        .agg(count(lit(1)).cast("long").as("n_test"),
          sum(col("y")).cast("long").as("pos_actual"))
      val j = cells.crossJoin(broadcast(pri))
        .join(broadcast(c1), Seq("f1"), "left")
        .join(broadcast(c2), Seq("f2"), "left")
        .select(col("f1"), col("f2"), col("n_test"), col("pos_actual"),
          col("n_pos"), col("n_neg"),
          coalesce(col("c1p"), lit(0L)).as("c1p"),
          coalesce(col("c1n"), lit(0L)).as("c1n"),
          coalesce(col("c2p"), lit(0L)).as("c2p"),
          coalesce(col("c2n"), lit(0L)).as("c2n"))
      def big(c: Column): Column = c.cast("decimal(38,0)")
      val d = j.select(col("f1"), col("f2"), col("n_test"),
        col("pos_actual"),
        (big(col("n_pos")) * big(col("c1p") + 1) * big(col("c2p") + 1) *
          big(col("n_neg") + 6) * big(col("n_neg") + 10)).as("lp"),
        (big(col("n_neg")) * big(col("c1n") + 1) * big(col("c2n") + 1) *
          big(col("n_pos") + 6) * big(col("n_pos") + 10)).as("ln"))
      d.select(col("f1").cast("long").as("f1"),
        col("f2").cast("long").as("f2"), col("n_test"), col("pos_actual"),
        when(col("lp") > col("ln"), "purchase").otherwise("click")
          .as("pred"),
        when(col("lp") > col("ln"), col("pos_actual"))
          .otherwise(col("n_test") - col("pos_actual")).as("n_correct"))
  }

  // ---------------------------------------------------------------- q241
  /** Bootstrap replicas (more replicas narrow the CI estimate's own
    * noise; 32 keeps the demo frame readable). */
  val BootstrapReplicas = 32

  /** Poisson(1) pmf quantized to percent thresholds: w=0 below 37,
    * 1 below 74, 2 below 92, 3 below 98, else 4 (e^-1/k! rounded —
    * the deterministic stand-in for a Poisson draw). */
  private def bootWeightSql(b: Int): String =
    s"""CASE WHEN ('0x' || substr(md5('boot|$b|' ||
       | CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 37 THEN 0
       | WHEN ('0x' || substr(md5('boot|$b|' ||
       | CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 74 THEN 1
       | WHEN ('0x' || substr(md5('boot|$b|' ||
       | CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 92 THEN 2
       | WHEN ('0x' || substr(md5('boot|$b|' ||
       | CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 98 THEN 3
       | ELSE 4 END""".stripMargin.replace("\n", "")

  private def bootstrapOracle: String = {
    val reps = (0 until BootstrapReplicas).map { b =>
      s"""SELECT CAST($b AS BIGINT) AS b,
         |  CAST(SUM(${bootWeightSql(b)}) AS BIGINT) AS n,
         |  CAST(SUM((${bootWeightSql(b)}) * cents) AS BIGINT) AS sum_cents
         |FROM u""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH u AS MATERIALIZED (
       |  SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents
       |  FROM events
       |  WHERE event_type = 'purchase' AND value IS NOT NULL
       |), r AS (
       |$reps
       |)
       |SELECT b, n, sum_cents,
       |  (CAST(sum_cents AS DOUBLE) / n) / 100 AS mean_value,
       |  CAST(ROW_NUMBER() OVER (
       |    ORDER BY (CAST(sum_cents AS DOUBLE) / n) / 100, b) AS BIGINT)
       |    AS rnk
       |FROM r""".stripMargin
  }

  /** Poisson bootstrap CI (Chamandy et al., Google '12 — "Estimating
    * uncertainty for massive data streams") for the mean purchase
    * value: the bootstrap that actually runs at 100 TB. Classic
    * resampling needs n draws WITH replacement per replica — a global
    * shuffle per replica; the Poisson trick gives every (row, replica)
    * an independent Poisson(1) weight, so ALL 32 replicas are 64
    * conditional integer sums folded in ONE map-side corpus pass,
    * zero extra shuffles. Weights are deterministic md5 percentiles
    * quantized to the Poisson(1) pmf, so both engines draw the same
    * "sample"; replica means are one fixed-order division at emission,
    * ranked with a replica tiebreak (read the CI off the rank column:
    * ranks 2 and 31 bracket the central 93.75%). */
  val q241BootstrapCi: Q = Q.sql(
    "q241_bootstrap_ci",
    bootstrapOracle,
    "32 one-pass Poisson bootstrap replicas of mean purchase value, ranked") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .where(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
      def w(b: Int): Column = {
        val h = graft.ops.Text.baseHash(
          concat(lit(s"boot|$b|"), col("event_id").cast("string"))) % 100
        when(h < 37, 0L).when(h < 74, 1L).when(h < 92, 2L)
          .when(h < 98, 3L).otherwise(4L)
      }
      val aggs = (0 until BootstrapReplicas).flatMap { b =>
        Seq(sum(w(b)).cast("long").as(s"n_$b"),
          sum(w(b) * col("cents")).cast("long").as(s"s_$b"))
      }
      val one = u.agg(aggs.head, aggs.tail: _*)
      val stacked = one.select(explode(array(
        (0 until BootstrapReplicas).map { b =>
          struct(lit(b.toLong).as("b"), col(s"n_$b").as("n"),
            col(s"s_$b").as("sum_cents"))
        }: _*)).as("r"))
        .select(col("r.b").as("b"), col("r.n").as("n"),
          col("r.sum_cents").as("sum_cents"))
      stacked.select(col("b"), col("n"), col("sum_cents"),
          ((col("sum_cents").cast("double") / col("n")) / 100)
            .as("mean_value"))
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("mean_value"), col("b")))
            .cast("long"))
  }

  // ---------------------------------------------------------------- q242
  /** PAV pooling rounds: 10 starting blocks can need at most 9 merges. */
  val PavRounds = 9

  private def pavOracle: String = {
    val steps = (1 to PavRounds).map { r =>
      s"""p$r AS (
         |  SELECT bid, n, pos,
         |    LAG(bid) OVER (ORDER BY bid) AS pbid,
         |    LAG(n) OVER (ORDER BY bid) AS pn,
         |    LAG(pos) OVER (ORDER BY bid) AS ppos
         |  FROM blk${r - 1}
         |), m$r AS (
         |  SELECT CASE WHEN pbid IS NOT NULL
         |      AND CAST(ppos AS HUGEINT) * n > CAST(pos AS HUGEINT) * pn
         |    THEN pbid ELSE bid END AS bid, n, pos
         |  FROM p$r
         |), blk$r AS (
         |  SELECT bid, CAST(SUM(n) AS BIGINT) AS n,
         |    CAST(SUM(pos) AS BIGINT) AS pos
         |  FROM m$r GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH u AS (
       |  SELECT CAST(floor(value * 100) AS BIGINT) AS vc,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
       |  FROM events
       |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
       |), blk0 AS (
       |  SELECT CAST(floor(1000 * vc / (vc + 5000)) AS BIGINT) // 100
       |      AS bid,
       |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
       |  FROM u GROUP BY 1
       |),
       |$steps
       |SELECT bid AS block, n, pos,
       |  CAST(pos AS DOUBLE) / n AS iso_rate
       |FROM blk$PavRounds""".stripMargin
  }

  /** Isotonic calibration by pool-adjacent-violators (Zadrozny–Elkan
    * '02 / sklearn `IsotonicRegression`) over q218's reliability
    * deciles — q218 MEASURES miscalibration, this FITS the monotone
    * repair every scoring pipeline applies before thresholding. Each
    * PAV round pools every adjacent block pair whose rate decreases
    * (the violation test is an exact integer cross-multiplication —
    * HUGEINT ≡ DECIMAL(38,0), no rate doubles until emission); 9
    * unrolled rounds are the worst case for 10 blocks, and any pooled
    * pair is provably in the optimum's level set, so simultaneous
    * pooling converges to the unique isotonic fit.
    *
    * Scale shape: the corpus collapses to the ≤10-bin histogram in ONE
    * conditional partial agg; all 9 rounds (lag window + partial-agg
    * re-group) ride that bounded frame. The oracle unrolls the
    * identical recurrence. */
  val q242IsotonicPav: Q = Q.sql(
    "q242_isotonic_pav",
    pavOracle,
    "pool-adjacent-violators isotonic fit of conversion rate over deciles") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .where(col("event_type").isin("purchase", "click") &&
          col("value").isNotNull)
        .select(floor(col("value") * 100).cast("long").as("vc"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      var blk = u.groupBy(
          expr("cast(floor(1000 * vc / (vc + 5000)) as bigint) div 100")
            .as("bid"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("y")).cast("long").as("pos"))
      val wLag = Window.orderBy(col("bid"))
      def big(c: Column): Column = c.cast("decimal(38,0)")
      for (_ <- 1 to PavRounds) {
        val p = blk.select(col("bid"), col("n"), col("pos"),
          lag(col("bid"), 1).over(wLag).as("pbid"),
          lag(col("n"), 1).over(wLag).as("pn"),
          lag(col("pos"), 1).over(wLag).as("ppos"))
        val m = p.select(
          when(col("pbid").isNotNull &&
            big(col("ppos")) * big(col("n")) >
              big(col("pos")) * big(col("pn")),
            col("pbid")).otherwise(col("bid")).as("bid"),
          col("n"), col("pos"))
        blk = m.groupBy(col("bid"))
          .agg(sum(col("n")).cast("long").as("n"),
            sum(col("pos")).cast("long").as("pos"))
      }
      blk.select(col("bid").as("block"), col("n"), col("pos"),
        (col("pos").cast("double") / col("n")).as("iso_rate"))
  }

  // ---------------------------------------------------------------- q243
  /** k-anonymity / l-diversity audit (Sweeney '02; Machanavajjhala '07)
    * — the privacy-governance gate a training corpus passes before
    * release: rows whose quasi-identifier combination is shared by
    * fewer than k individuals are re-identifiable, and cells where the
    * sensitive attribute doesn't vary leak it even at high k. QI =
    * (daypart, value decile, user-id bucket), sensitive = event_type;
    * the report is rows/cells below k ∈ {2, 5, 10} plus cells with
    * l < 2 distinct sensitive values.
    *
    * Scale shape: ONE partial agg collapses the corpus to the QI grid
    * (count + exact distinct over a 5-value domain); the four audit
    * rows are conditional sums over that bounded frame with a 1-row
    * total broadcast; share is one division at emission. */
  val q243KAnonymity: Q = Q.sql(
    "q243_k_anonymity",
    """WITH u AS (
      |  SELECT ((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24) // 4
      |      AS f1,
      |    CASE WHEN value IS NULL THEN -1 ELSE
      |      CAST(floor(1000 * CAST(floor(value * 100) AS BIGINT)
      |        / (CAST(floor(value * 100) AS BIGINT) + 5000)) AS BIGINT)
      |        // 100 END AS f2,
      |    user_id % 10 AS ub, event_type
      |  FROM events
      |), cells AS MATERIALIZED (
      |  SELECT f1, f2, ub, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS l
      |  FROM u GROUP BY 1, 2, 3
      |), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM cells),
      |a AS (
      |  SELECT 'k2' AS metric,
      |    CAST(SUM(CASE WHEN n < 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS cells_below,
      |    CAST(SUM(CASE WHEN n < 2 THEN n ELSE 0 END) AS BIGINT)
      |      AS rows_below
      |  FROM cells
      |  UNION ALL
      |  SELECT 'k5',
      |    CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
      |  FROM cells
      |  UNION ALL
      |  SELECT 'k10',
      |    CAST(SUM(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
      |  FROM cells
      |  UNION ALL
      |  SELECT 'l2',
      |    CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN l < 2 THEN n ELSE 0 END) AS BIGINT)
      |  FROM cells
      |)
      |SELECT metric, cells_below, rows_below,
      |  CAST(rows_below AS DOUBLE) / t AS share_rows
      |FROM a, tot""".stripMargin,
    "re-identifiable rows/cells below k anonymity and l=2 diversity") {
    (s, dir) =>
      val u = Tables(s, dir, "events").select(
        expr("((unix_micros(ts) div 3600000000) % 24) div 4").as("f1"),
        when(col("value").isNull, lit(-1L)).otherwise(
          expr("cast(floor(1000 * cast(floor(value * 100) as bigint)" +
            " / (cast(floor(value * 100) as bigint) + 5000)) as bigint)" +
            " div 100")).as("f2"),
        (col("user_id") % 10).as("ub"), col("event_type"))
      val cells = u.groupBy(col("f1"), col("f2"), col("ub"))
        .agg(count(lit(1)).cast("long").as("n"),
          countDistinct(col("event_type")).cast("long").as("l"))
      val tot = cells.agg(sum(col("n")).cast("long").as("t"))
      def row(metric: String, pred: Column): DataFrame =
        cells.agg(
          sum(when(pred, 1L).otherwise(0L)).cast("long").as("cells_below"),
          sum(when(pred, col("n")).otherwise(0L)).cast("long")
            .as("rows_below"))
          .select(lit(metric).as("metric"), col("cells_below"),
            col("rows_below"))
      val a = row("k2", col("n") < 2)
        .unionByName(row("k5", col("n") < 5))
        .unionByName(row("k10", col("n") < 10))
        .unionByName(row("l2", col("l") < 2))
      a.crossJoin(broadcast(tot))
        .select(col("metric"), col("cells_below"), col("rows_below"),
          (col("rows_below").cast("double") / col("t")).as("share_rows"))
  }

  // ---------------------------------------------------------------- q244
  /** Shuffle-partition skew planner — "what happens if I shuffle on
    * this key": hash user_id into 32 virtual reducers (deterministic
    * md5, so both engines model the same placement) and report each
    * reducer's row/key load and load factor (n·32/total; 1.0 =
    * perfectly balanced), side by side with the 4-way SALTED variant
    * of the same key. The gap between the two load_factor columns is
    * the measured case for q45's salting before any job runs.
    *
    * Scale shape: both schemes are ONE map-side-combined partial agg
    * each over (scheme, part) — 64 output rows; the totals broadcast;
    * the load factor is one fixed-order division at emission. */
  val q244SkewPlanner: Q = Q.sql(
    "q244_skew_planner",
    """WITH u AS MATERIALIZED (
      |  SELECT ('0x' || substr(md5('pk|' || CAST(user_id AS VARCHAR)),
      |      1, 15))::BIGINT % 32 AS p_raw,
      |    ('0x' || substr(md5('pk|' || CAST(user_id AS VARCHAR) || '#'
      |      || CAST(event_id % 4 AS VARCHAR)), 1, 15))::BIGINT % 32
      |      AS p_salt,
      |    user_id
      |  FROM events
      |), r AS (
      |  SELECT 'raw' AS scheme, p_raw AS part,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
      |  FROM u GROUP BY 2
      |  UNION ALL
      |  SELECT 'salted4', p_salt,
      |    CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT user_id) AS BIGINT)
      |  FROM u GROUP BY 2
      |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM u)
      |SELECT scheme, CAST(part AS BIGINT) AS part, n_rows, n_keys,
      |  CAST(n_rows * 32 AS DOUBLE) / t AS load_factor
      |FROM r, tot""".stripMargin,
    "per-reducer load of a user_id shuffle, raw vs 4-way salted") {
    (s, dir) =>
      val u = Tables(s, dir, "events").select(
        (graft.ops.Text.baseHash(
          concat(lit("pk|"), col("user_id").cast("string"))) % 32)
          .as("p_raw"),
        (graft.ops.Text.baseHash(
          concat(lit("pk|"), col("user_id").cast("string"), lit("#"),
            (col("event_id") % 4).cast("string"))) % 32).as("p_salt"),
        col("user_id"))
      val raw = u.groupBy(col("p_raw").as("part"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          countDistinct(col("user_id")).cast("long").as("n_keys"))
        .select(lit("raw").as("scheme"), col("part"), col("n_rows"),
          col("n_keys"))
      val salted = u.groupBy(col("p_salt").as("part"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          countDistinct(col("user_id")).cast("long").as("n_keys"))
        .select(lit("salted4").as("scheme"), col("part"), col("n_rows"),
          col("n_keys"))
      val tot = u.agg(count(lit(1)).cast("long").as("t"))
      raw.unionByName(salted).crossJoin(broadcast(tot))
        .select(col("scheme"), col("part").cast("long").as("part"),
          col("n_rows"), col("n_keys"),
          ((col("n_rows") * 32).cast("double") / col("t"))
            .as("load_factor"))
  }

  // ---------------------------------------------------------------- q248
  /** A-priori frequent 3-itemsets (Agrawal–Srikant '94) over brand
    * baskets — the association-mining step above q177's pairs: which
    * brand TRIPLES co-occur in an order beyond chance. The Spark side
    * runs the real distributed A-priori shape: L2 (pair support ≥ 340)
    * computed first, candidate triples generated by the L2⋈L2
    * prefix-join + the third-pair membership check (downward closure),
    * broadcast, and the per-basket triple enumeration SEMI-JOINS that
    * candidate list BEFORE the count — the prune-before-count that
    * makes A-priori feasible when the candidate space is huge. The
    * oracle counts all basket triples and prunes after — same output,
    * the lazy spelling only an oracle can afford.
    *
    * Scale shape: baskets are the distinct (order, brand) frame (one
    * equi-join + partial-agg distinct); enumeration fan-out is bounded
    * by basket size (≤11 brands → ≤165 triples/order), every join is
    * keyed on the order; candidates are a bounded broadcast. All
    * supports exact bigints. */
  val q248AprioriTriples: Q = Q.sql(
    "q248_apriori_triples",
    """WITH b AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS o, p_brand AS it
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |), nb AS (
      |  SELECT (23 * COUNT(DISTINCT o)) // 1000 AS s2,
      |    (4 * COUNT(DISTINCT o)) // 1000 AS s3
      |  FROM b
      |), l2 AS MATERIALIZED (
      |  SELECT a.it AS x, c.it AS y, CAST(COUNT(*) AS BIGINT) AS sup
      |  FROM b a JOIN b c ON a.o = c.o AND a.it < c.it
      |  GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT s2 FROM nb)
      |), t AS (
      |  SELECT a.it AS x, c.it AS y, d.it AS z,
      |    CAST(COUNT(*) AS BIGINT) AS support
      |  FROM b a
      |  JOIN b c ON a.o = c.o AND a.it < c.it
      |  JOIN b d ON a.o = d.o AND c.it < d.it
      |  GROUP BY 1, 2, 3
      |)
      |SELECT x AS item1, y AS item2, z AS item3, support
      |FROM t
      |WHERE support >= (SELECT s3 FROM nb)
      |  AND EXISTS (SELECT 1 FROM l2 WHERE l2.x = t.x AND l2.y = t.y)
      |  AND EXISTS (SELECT 1 FROM l2 WHERE l2.x = t.x AND l2.y = t.z)
      |  AND EXISTS (SELECT 1 FROM l2 WHERE l2.x = t.y AND l2.y = t.z)"""
      .stripMargin,
    "frequent brand triples via L2-pruned candidate generation") {
    (s, dir) =>
      // r11 (guide §2.3/§2.4): the cached basket frame is now the PER-ORDER
      // SORTED ITEM ARRAY, so pair and triple enumeration are map-side
      // combination explodes with partial-aggregated counts — the previous
      // spelling self-joined the (o, it) frame twice (pairs) and three
      // times (triples) on o, shuffling the fan-out each time (plan:
      // 5 Exchanges on o → 1 Exchange building the array; subset A/B
      // 9.87 → 7.89 s, plan captures in plans/r11/q248_apriori_triples_*)
      val arr = graft.SessionCache.once(s, s"relational#$dir#apriori-baskets") {
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey"))
          .join(broadcast(Tables(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
            col("p_partkey") === col("l_partkey"))
          .select(col("o"), col("p_brand").as("it"))
          .distinct()
          .groupBy(col("o"))
          .agg(sort_array(collect_set(col("it"))).as("items"))
          .cache()
      }
      // scale-relative min supports (2.3% / 0.4% of basket count), so
      // the prune stays selective at ANY corpus size — an absolute
      // count would stop cutting on a 10x blow-up and return nothing
      // on a 10x shrink
      val nb = arr.agg(
        expr("(23 * count(1)) div 1000").as("s2"),
        expr("(4 * count(1)) div 1000").as("s3"))
      val l2 = arr.select(explode(pairCombos(col("items"))).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
        .groupBy(col("x"), col("y"))
        .agg(count(lit(1)).cast("long").as("sup"))
        .crossJoin(broadcast(nb))
        .filter(col("sup") >= col("s2"))
      // downward closure: a triple is a candidate iff all three of its
      // pairs are frequent — L2 prefix-join + third-pair semi-join
      val c3 = l2.select(col("x"), col("y"))
        .join(l2.select(col("x"), col("y").as("z")), Seq("x"))
        .filter(col("y") < col("z"))
        .join(l2.select(col("x").as("y"), col("y").as("z")), Seq("y", "z"),
          "left_semi")
        .select(col("x"), col("y"), col("z"))
      val triples = arr.select(explode(tripleCombos(col("items"))).as("t"))
        .select(col("t.x").as("x"), col("t.y").as("y"), col("t.z").as("z"))
        .join(broadcast(c3), Seq("x", "y", "z"), "left_semi")
        .groupBy(col("x"), col("y"), col("z"))
        .agg(count(lit(1)).cast("long").as("support"))
        .crossJoin(broadcast(nb))
        .filter(col("support") >= col("s3"))
      triples.select(col("x").as("item1"), col("y").as("item2"),
        col("z").as("item3"), col("support"))
  }

  // ---------------------------------------------------------------- q249
  /** Sequential pattern mining with gaps (the PrefixSpan/GSP question:
    * how many users exhibit type-a THEN type-b THEN type-c, other
    * events allowed between) — the memoryful ordering signal q193's
    * CONSECUTIVE trigrams and q169's memoryless transitions both miss.
    * Subsequence containment is decided by the greedy earliest-
    * occurrence chain (provably equivalent: if any witness exists, the
    * earliest-first one does): e1 = first a, e2 = first b after e1,
    * e3 = first c after e2; support = users where e3 exists, over all
    * 125 ordered type triples.
    *
    * Scale shape: the corpus collapses to (user, type) firsts in one
    * partial agg; the chain steps are two keyed joins of the corpus
    * against per-user bounded frames (fan-out ≤ types then types² per
    * event — the bounded-alphabet price, paid in map-side width, never
    * in shuffle count), each followed by a partial-agg min. All
    * integer; share is one division at emission. */
  val q249SeqPatterns: Q = Q.sql(
    "q249_seq_patterns",
    """WITH ev AS MATERIALIZED (
      |  SELECT user_id AS u, event_type AS t,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu
      |  FROM events
      |), e1 AS MATERIALIZED (
      |  SELECT u, t AS a, MIN(tu) AS t1 FROM ev GROUP BY 1, 2
      |), e2 AS MATERIALIZED (
      |  SELECT ev.u, e1.a, ev.t AS b, MIN(ev.tu) AS t2
      |  FROM ev JOIN e1 ON e1.u = ev.u AND ev.tu > e1.t1
      |  GROUP BY 1, 2, 3
      |), e3 AS MATERIALIZED (
      |  SELECT ev.u, e2.a, e2.b, ev.t AS c, MIN(ev.tu) AS t3
      |  FROM ev JOIN e2 ON e2.u = ev.u AND ev.tu > e2.t2
      |  GROUP BY 1, 2, 3, 4
      |), nu AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users
      |          FROM ev)
      |SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS support, n_users,
      |  CAST(COUNT(*) AS DOUBLE) / n_users AS share
      |FROM e3, nu
      |GROUP BY 1, 2, 3, n_users""".stripMargin,
    "user support of every ordered type triple with gaps allowed") {
    (s, dir) =>
      val ev = Tables(s, dir, "events")
        .select(col("user_id").as("u"), col("event_type").as("t"),
          unix_micros(col("ts")).as("tu"))
      val e1 = ev.groupBy(col("u"), col("t").as("a"))
        .agg(min(col("tu")).as("t1"))
        .withColumnRenamed("t", "a")
      val e2 = ev.join(e1, Seq("u"))
        .filter(col("tu") > col("t1"))
        .groupBy(col("u"), col("a"), col("t").as("b"))
        .agg(min(col("tu")).as("t2"))
      val e3 = ev.join(e2, Seq("u"))
        .filter(col("tu") > col("t2"))
        .groupBy(col("u"), col("a"), col("b"), col("t").as("c"))
        .agg(min(col("tu")).as("t3"))
      val nu = ev.agg(countDistinct(col("u")).cast("long").as("n_users"))
      e3.groupBy(col("a"), col("b"), col("c"))
        .agg(count(lit(1)).cast("long").as("support"))
        .crossJoin(broadcast(nu))
        .select(col("a"), col("b"), col("c"), col("support"),
          col("n_users"),
          (col("support").cast("double") / col("n_users")).as("share"))
  }

  // ---------------------------------------------------------------- q250
  /** Item-item collaborative filtering (Sarwar '01 / Amazon's
    * classic): recommend each customer the top-3 brands they DON'T buy,
    * scored by summed customer-level co-occurrence with the brands they
    * DO. The serving-side recommender built from q177/q248's
    * association counts — similarity is the exact co-occurrence count
    * (integer, no cosine needed for ranking stability), owned brands
    * excluded by anti-join, ties broken by brand.
    *
    * Scale shape: the item-item matrix is bounded by items² (≤600
    * rows here) and BROADCAST — the whole point of item-item over
    * user-user CF at scale; the per-customer pass is one keyed join
    * against that broadcast + a partial-agg sum + a WindowGroupLimit
    * top-3. The corpus is touched once to build baskets. */
  val q250ItemItemCf: Q = Q.sql(
    "q250_item_item_cf",
    """WITH b AS MATERIALIZED (
      |  SELECT DISTINCT o.o_custkey AS u, p.p_brand AS it
      |  FROM orders o
      |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |), cooc AS MATERIALIZED (
      |  SELECT a.it AS x, c.it AS y, CAST(COUNT(*) AS BIGINT) AS w
      |  FROM b a JOIN b c ON a.u = c.u AND a.it <> c.it
      |  GROUP BY 1, 2
      |), sc AS (
      |  SELECT b.u, cooc.y AS rec, CAST(SUM(cooc.w) AS BIGINT) AS score
      |  FROM b JOIN cooc ON cooc.x = b.it
      |  WHERE NOT EXISTS (SELECT 1 FROM b o
      |                    WHERE o.u = b.u AND o.it = cooc.y)
      |  GROUP BY 1, 2
      |)
      |SELECT CAST(u AS BIGINT) AS custkey, rec, score,
      |  CAST(rn AS BIGINT) AS rnk
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY u
      |        ORDER BY score DESC, rec) AS rn FROM sc)
      |WHERE rn <= 3""".stripMargin,
    "top-3 unowned brands per customer by summed item-item co-occurrence") {
    (s, dir) =>
      // r11 (guide §2.3): baskets cached as the per-customer sorted item
      // array. The co-occurrence matrix is a map-side pair explode
      // (counted once for x<y, mirrored — count(x,y) = count(y,x)), and
      // the owned-brand exclusion is an `array_contains` filter on the
      // basket array the row already carries, replacing the previous
      // (u, y)-keyed shuffle anti-join of the full scoring fan-out.
      val arr = graft.SessionCache.once(s, s"relational#$dir#cf-baskets") {
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey").as("u"))
          .join(Tables(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_partkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
            col("p_partkey") === col("l_partkey"))
          .select(col("u"), col("p_brand").as("it"))
          .distinct()
          .groupBy(col("u"))
          .agg(sort_array(collect_set(col("it"))).as("items"))
          .cache()
      }
      val pc = arr.select(explode(pairCombos(col("items"))).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(count(lit(1)).cast("long").as("w"))
      val cooc = pc.unionByName(
        pc.select(col("y").as("x"), col("x").as("y"), col("w")))
      val sc = arr
        .select(col("u"), col("items"), explode(col("items")).as("x"))
        .join(broadcast(cooc), Seq("x"))
        .filter(!array_contains(col("items"), col("y")))
        .groupBy(col("u"), col("y").as("rec"))
        .agg(sum(col("w")).cast("long").as("score"))
      val w = Window.partitionBy(col("u"))
        .orderBy(col("score").desc, col("rec"))
      sc.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("u").cast("long").as("custkey"), col("rec"),
          col("score"), col("rn").cast("long").as("rnk"))
  }

  // ---------------------------------------------------------------- q251
  /** Point-in-time-correct training-example generation — the
    * feature-store operation every supervised pipeline on event data
    * needs and the one that silently leaks when done wrong: for every
    * (user, active day) example, trailing-7-day features computed ONLY
    * from days ≤ d (a RANGE frame over the daily grid, so a user's
    * sparse days can't smuggle in out-of-window rows) and a label
    * drawn strictly from the FUTURE (purchase on day d+1, resolved by
    * an exact day+1 equi-join, not a next-active-day LEAD — a LEAD
    * would mislabel users who skip a day). q168/q200 enrich with PIT
    * state; this EMITS the supervised dataset.
    *
    * All features exact integers off ONE user-day partial agg; both
    * windows ride the same user exchange. */
  val q251PitExamples: Q = Q.sql(
    "q251_pit_examples",
    """WITH d AS MATERIALIZED (
      |  SELECT user_id AS u,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n_ev,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_purch,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
      |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      |      AS v_cents
      |  FROM events GROUP BY 1, 2
      |), f AS (
      |  SELECT u, day,
      |    CAST(SUM(n_ev) OVER w AS BIGINT) AS f_events_7d,
      |    CAST(SUM(n_purch) OVER w AS BIGINT) AS f_purch_7d,
      |    CAST(SUM(v_cents) OVER w AS BIGINT) AS f_value_7d_cents,
      |    CAST(COUNT(*) OVER w AS BIGINT) AS f_active_days_7d
      |  FROM d
      |  WINDOW w AS (PARTITION BY u ORDER BY day
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |)
      |SELECT f.u AS user_id, CAST(f.day AS BIGINT) AS day, f_events_7d,
      |  f_purch_7d, f_value_7d_cents, f_active_days_7d,
      |  CAST(CASE WHEN nx.n_purch > 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS label
      |FROM f LEFT JOIN d nx ON nx.u = f.u AND nx.day = f.day + 1"""
      .stripMargin,
    "leakage-free supervised examples: trailing-7d features, next-day label") {
    (s, dir) =>
      val d = Tables(s, dir, "events")
        .groupBy(col("user_id").as("u"),
          floor(unix_micros(col("ts")) / 86400000000L).cast("long")
            .as("day"))
        .agg(count(lit(1)).cast("long").as("n_ev"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .cast("long").as("n_purch"),
          sum(when(col("event_type") === "purchase" &&
            col("value").isNotNull,
            floor(col("value") * 100).cast("long")).otherwise(0L))
            .cast("long").as("v_cents"))
      val w = Window.partitionBy(col("u")).orderBy(col("day"))
        .rangeBetween(-6, Window.currentRow)
      val f = d.select(col("u"), col("day"),
        sum(col("n_ev")).over(w).cast("long").as("f_events_7d"),
        sum(col("n_purch")).over(w).cast("long").as("f_purch_7d"),
        sum(col("v_cents")).over(w).cast("long").as("f_value_7d_cents"),
        count(lit(1)).over(w).cast("long").as("f_active_days_7d"))
      val nx = d.select(col("u"), (col("day") - 1).as("day"),
        col("n_purch").as("nx_purch"))
      f.join(nx, Seq("u", "day"), "left")
        .select(col("u").as("user_id"), col("day").cast("long").as("day"),
          col("f_events_7d"), col("f_purch_7d"), col("f_value_7d_cents"),
          col("f_active_days_7d"),
          when(col("nx_purch") > 0, 1L).otherwise(0L).as("label"))
  }

  // ---------------------------------------------------------------- q253
  /** Inter-labeler agreement (Cohen's kappa) — the labeling-pipeline QA
    * number beside q217's label-noise audit: before trusting ANY
    * labeled corpus, measure whether two labelers agree beyond chance.
    * Labeler A = the q218 milli-score thresholded at 300, labeler B =
    * a morning-daypart heuristic, ground truth = purchase; the output
    * is the full 2×2 confusion matrix (exact bigints), observed and
    * chance agreement, kappa, and each labeler's accuracy — kappa =
    * (po − pe)/(1 − pe) over exact integer cross products, one
    * fixed-parenthesization double tree at emission.
    *
    * Scale shape: labels are map-side projections; the ENTIRE statistic
    * folds in ONE conditional partial agg to a single row. */
  val q253CohenKappa: Q = Q.sql(
    "q253_cohen_kappa",
    """WITH u AS (
      |  SELECT CASE WHEN CAST(floor(1000 * CAST(floor(value * 100)
      |      AS BIGINT) / (CAST(floor(value * 100) AS BIGINT) + 5000))
      |      AS BIGINT) >= 300 THEN 1 ELSE 0 END AS la,
      |    CASE WHEN ((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000)
      |      % 24) < 12 THEN 1 ELSE 0 END AS lb,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events
      |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
      |), c AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(la * lb) AS BIGINT) AS both_pos,
      |    CAST(SUM(la * (1 - lb)) AS BIGINT) AS a_only,
      |    CAST(SUM((1 - la) * lb) AS BIGINT) AS b_only,
      |    CAST(SUM((1 - la) * (1 - lb)) AS BIGINT) AS both_neg,
      |    CAST(SUM(la) AS BIGINT) AS a_pos,
      |    CAST(SUM(lb) AS BIGINT) AS b_pos,
      |    CAST(SUM(CASE WHEN la = y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS a_correct,
      |    CAST(SUM(CASE WHEN lb = y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS b_correct
      |  FROM u
      |)
      |SELECT n, both_pos, a_only, b_only, both_neg,
      |  CAST(both_pos + both_neg AS DOUBLE) / n AS po,
      |  (CAST(a_pos AS DOUBLE) * b_pos
      |    + CAST(n - a_pos AS DOUBLE) * (n - b_pos))
      |    / (CAST(n AS DOUBLE) * n) AS pe,
      |  (CAST(both_pos + both_neg AS DOUBLE) / n
      |    - (CAST(a_pos AS DOUBLE) * b_pos
      |      + CAST(n - a_pos AS DOUBLE) * (n - b_pos))
      |      / (CAST(n AS DOUBLE) * n))
      |  / (CAST(1 AS DOUBLE)
      |    - (CAST(a_pos AS DOUBLE) * b_pos
      |      + CAST(n - a_pos AS DOUBLE) * (n - b_pos))
      |      / (CAST(n AS DOUBLE) * n)) AS kappa,
      |  CAST(a_correct AS DOUBLE) / n AS acc_a,
      |  CAST(b_correct AS DOUBLE) / n AS acc_b
      |FROM c""".stripMargin,
    "2x2 labeler confusion, observed/chance agreement, Cohen's kappa") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .where(col("event_type").isin("purchase", "click") &&
          col("value").isNotNull)
        .select(
          when(expr("cast(floor(1000 * cast(floor(value * 100) as bigint)" +
            " / (cast(floor(value * 100) as bigint) + 5000)) as bigint)")
            >= 300, 1L).otherwise(0L).as("la"),
          when(expr("(unix_micros(ts) div 3600000000) % 24") < 12, 1L)
            .otherwise(0L).as("lb"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      val c = u.agg(count(lit(1)).cast("long").as("n"),
        sum(col("la") * col("lb")).cast("long").as("both_pos"),
        sum(col("la") * (lit(1L) - col("lb"))).cast("long").as("a_only"),
        sum((lit(1L) - col("la")) * col("lb")).cast("long").as("b_only"),
        sum((lit(1L) - col("la")) * (lit(1L) - col("lb"))).cast("long")
          .as("both_neg"),
        sum(col("la")).cast("long").as("a_pos"),
        sum(col("lb")).cast("long").as("b_pos"),
        sum(when(col("la") === col("y"), 1L).otherwise(0L)).cast("long")
          .as("a_correct"),
        sum(when(col("lb") === col("y"), 1L).otherwise(0L)).cast("long")
          .as("b_correct"))
      val po = (col("both_pos") + col("both_neg")).cast("double") / col("n")
      val pe = (col("a_pos").cast("double") * col("b_pos") +
        (col("n") - col("a_pos")).cast("double") * (col("n") - col("b_pos"))) /
        (col("n").cast("double") * col("n"))
      c.select(col("n"), col("both_pos"), col("a_only"), col("b_only"),
        col("both_neg"), po.as("po"), pe.as("pe"),
        ((po - pe) / (lit(1).cast("double") - pe)).as("kappa"),
        (col("a_correct").cast("double") / col("n")).as("acc_a"),
        (col("b_correct").cast("double") / col("n")).as("acc_b"))
  }

  // ---------------------------------------------------------------- q254
  /** Watermark-lateness audit — the number every `withWatermark` delay
    * in the streaming family (q80…q252 all pin "10 minutes") should be
    * CHOSEN from, not guessed: replay the feed in arrival order
    * (event_id) within each synthetic source partition (user_id % 8,
    * the Kafka-partition model) and measure each event's lateness
    * against its partition's running event-time maximum. For candidate
    * delays {1, 5, 10, 30, 60 min}: how many events a watermark at that
    * delay would DROP, and the max observed disorder.
    *
    * Scale shape: ONE running-max window over 8 source partitions
    * (parallel, never a global window) + one conditional partial agg
    * to 5 rows. All integer; share is one division at emission. */
  val q254LatenessAudit: Q = Q.sql(
    "q254_lateness_audit",
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tu, event_id,
      |    user_id % 8 AS sp
      |  FROM events
      |), l AS (
      |  SELECT tu, MAX(tu) OVER (PARTITION BY sp ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tu
      |    AS late_us
      |  FROM e
      |), d AS (
      |  SELECT CAST(60 AS BIGINT) AS delay_s
      |  UNION ALL SELECT 300 UNION ALL SELECT 600
      |  UNION ALL SELECT 1800 UNION ALL SELECT 3600
      |)
      |SELECT delay_s,
      |  CAST(SUM(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_dropped,
      |  CAST(SUM(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*) AS share_dropped,
      |  CAST(MAX(late_us) AS BIGINT) AS max_late_us
      |FROM l, d
      |GROUP BY 1""".stripMargin,
    "events each candidate watermark delay would drop, per source partition") {
    (s, dir) =>
      val e = Tables(s, dir, "events")
        .select(unix_micros(col("ts")).as("tu"), col("event_id"),
          (col("user_id") % 8).as("sp"))
      val w = Window.partitionBy(col("sp")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val l = e.select(col("tu"),
        (max(col("tu")).over(w) - col("tu")).as("late_us"))
      val d = s.range(0, 1).select(explode(array(
        lit(60L), lit(300L), lit(600L), lit(1800L), lit(3600L)))
        .as("delay_s"))
      l.crossJoin(broadcast(d))
        .groupBy(col("delay_s"))
        .agg(
          sum(when(col("late_us") > col("delay_s") * 1000000L, 1L)
            .otherwise(0L)).cast("long").as("n_dropped"),
          (sum(when(col("late_us") > col("delay_s") * 1000000L, 1L)
            .otherwise(0L)).cast("double") / count(lit(1)))
            .as("share_dropped"),
          max(col("late_us")).cast("long").as("max_late_us"))
  }

  // ---------------------------------------------------------------- q257
  /** Neyman-allocation stratified sampling (the survey-statistics
    * optimum: sample stratum h in proportion to N_h·σ_h, so variance
    * per sampled row is minimized) — the budgeted-sampling upgrade of
    * q76's equal-rate draw: a 1000-row budget spread over the
    * event-type strata lands MORE rows where the value column is both
    * plentiful and volatile. σ_h comes from exact centi-unit moment
    * sums (DECIMAL(38,0) — the q179/q225 discipline); the allocation
    * n_h = floor(1000·w_h) + largest-remainder top-up is computed on
    * the ≤5-row stratum frame with full tiebreaks, then realized by
    * the q76 md5-Bernoulli rank draw (deterministic, engine-portable).
    *
    * Scale shape: ONE conditional partial agg to the stratum frame;
    * the draw is a map-side hash rank + per-stratum WindowGroupLimit
    * against the broadcast allocation. */
  val q257NeymanSample: Q = Q.sql(
    "q257_neyman_sample",
    """WITH u AS MATERIALIZED (
      |  SELECT event_id, event_type AS st,
      |    CAST(floor(value * 100) AS BIGINT) AS vc
      |  FROM events WHERE value IS NOT NULL
      |), mo AS (
      |  SELECT st, CAST(COUNT(*) AS BIGINT) AS n_h,
      |    CAST(SUM(CAST(vc AS HUGEINT)) AS HUGEINT) AS s1,
      |    CAST(SUM(CAST(vc AS HUGEINT) * vc) AS HUGEINT) AS s2
      |  FROM u GROUP BY 1
      |), sd AS (
      |  SELECT st, n_h,
      |    sqrt(GREATEST(CAST(s2 AS DOUBLE) / n_h
      |      - (CAST(s1 AS DOUBLE) / n_h) * (CAST(s1 AS DOUBLE) / n_h),
      |      CAST(0 AS DOUBLE))) AS sigma
      |  FROM mo
      |), wts AS (
      |  SELECT st, n_h, sigma,
      |    (CAST(n_h AS DOUBLE) * sigma)
      |      / SUM(CAST(n_h AS DOUBLE) * sigma) OVER () AS w_h
      |  FROM sd
      |), alloc AS (
      |  SELECT st, n_h, sigma, w_h,
      |    CAST(floor(1000 * w_h) AS BIGINT)
      |      + CASE WHEN ROW_NUMBER() OVER (
      |          ORDER BY 1000 * w_h - floor(1000 * w_h) DESC, st)
      |        <= 1000 - CAST(SUM(floor(1000 * w_h)) OVER () AS BIGINT)
      |      THEN 1 ELSE 0 END AS n_alloc
      |  FROM wts
      |), drawn AS (
      |  SELECT u.st, COUNT(*) AS n_drawn FROM (
      |    SELECT st, ROW_NUMBER() OVER (PARTITION BY st ORDER BY
      |      ('0x' || substr(md5('ney|' || CAST(event_id AS VARCHAR)),
      |        1, 15))::BIGINT, event_id) AS rk
      |    FROM u) u
      |  JOIN alloc ON alloc.st = u.st AND u.rk <= alloc.n_alloc
      |  GROUP BY 1
      |)
      |SELECT alloc.st AS stratum, n_h, sigma, w_h, n_alloc,
      |  CAST(COALESCE(n_drawn, 0) AS BIGINT) AS n_drawn
      |FROM alloc LEFT JOIN drawn ON drawn.st = alloc.st""".stripMargin,
    "variance-optimal 1000-row stratified sample: sigma, weights, draw") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .where(col("value").isNotNull)
        .select(col("event_id"), col("event_type").as("st"),
          floor(col("value") * 100).cast("long").as("vc"))
      def big(c: Column): Column = c.cast("decimal(38,0)")
      val mo = u.groupBy(col("st"))
        .agg(count(lit(1)).cast("long").as("n_h"),
          sum(big(col("vc"))).cast("decimal(38,0)").as("s1"),
          sum(big(col("vc")) * big(col("vc"))).cast("decimal(38,0)")
            .as("s2"))
      val mean = col("s1").cast("double") / col("n_h")
      val sd = mo.select(col("st"), col("n_h"),
        sqrt(greatest(col("s2").cast("double") / col("n_h") - mean * mean,
          lit(0).cast("double"))).as("sigma"))
      val wAll = Window.partitionBy()
      val wts = sd.select(col("st"), col("n_h"), col("sigma"),
        ((col("n_h").cast("double") * col("sigma")) /
          sum(col("n_h").cast("double") * col("sigma")).over(wAll))
          .as("w_h"))
      val wRem = Window.orderBy(
        (lit(1000) * col("w_h") - floor(lit(1000) * col("w_h"))).desc,
        col("st"))
      val alloc = wts.select(col("st"), col("n_h"), col("sigma"),
        col("w_h"),
        (floor(lit(1000) * col("w_h")).cast("long") +
          when(row_number().over(wRem) <=
            lit(1000L) - sum(floor(lit(1000) * col("w_h"))).over(wAll)
              .cast("long"), 1L).otherwise(0L)).as("n_alloc"))
      val wRank = Window.partitionBy(col("st")).orderBy(
        graft.ops.Text.baseHash(
          concat(lit("ney|"), col("event_id").cast("string"))),
        col("event_id"))
      val drawn = u.select(col("st"),
          row_number().over(wRank).as("rk"))
        .join(broadcast(alloc.select(col("st"), col("n_alloc"))), Seq("st"))
        .filter(col("rk") <= col("n_alloc"))
        .groupBy(col("st")).agg(count(lit(1)).as("n_drawn"))
      alloc.join(drawn, Seq("st"), "left")
        .select(col("st").as("stratum"), col("n_h"), col("sigma"),
          col("w_h"), col("n_alloc"),
          coalesce(col("n_drawn"), lit(0L)).cast("long").as("n_drawn"))
  }

  // ---------------------------------------------------------------- q258
  /** Off-policy evaluation by inverse-propensity scoring (Horvitz–
    * Thompson / the bandit replay estimator) — "what would the reward
    * have been under a DIFFERENT policy", answered from logs alone:
    * each user-day is one logged decision (context = daypart of its
    * first event, action = that first event's type, reward = whether a
    * purchase followed the same day), the logging propensity is the
    * empirical p(a|x) = c_xa/c_x, and the target policy 'always click'
    * is scored as Σ r·1[a=click]/p per context. Everything up to the
    * final ratios is exact: per-context reward sums, decision counts
    * and the IPS numerator r_sum·c_x are bigints; propensity, the IPS
    * contribution and the direct-method mean are single fixed-order
    * divisions. Reported per context beside the direct-method estimate
    * so the variance/bias trade is visible.
    *
    * Scale shape: user-days collapse in ONE window-free partial agg
    * pass (min-struct first event + conditional max), contexts are a
    * ≤6-row frame, every statistic above it partial-aggregates. */
  val q258IpsOffPolicy: Q = Q.sql(
    "q258_ips_offpolicy",
    """WITH ud AS MATERIALIZED (
      |  SELECT user_id,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS day,
      |    MIN({'v1': epoch_us(CAST(ts AS TIMESTAMP)), 'v2': event_id,
      |         'v3': event_type}) AS fe,
      |    MAX(CASE WHEN event_type = 'purchase'
      |      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS last_purch
      |  FROM events GROUP BY 1, 2
      |), d AS MATERIALIZED (
      |  SELECT ((fe.v1 // 3600000000) % 24) // 4 AS x,
      |    fe.v3 AS a,
      |    CASE WHEN last_purch IS NOT NULL AND last_purch > fe.v1
      |      THEN 1 ELSE 0 END AS r
      |  FROM ud
      |), cx AS (
      |  SELECT x, CAST(COUNT(*) AS BIGINT) AS c_x FROM d GROUP BY 1
      |), ca AS (
      |  SELECT x, CAST(COUNT(*) AS BIGINT) AS c_click,
      |    CAST(SUM(r) AS BIGINT) AS r_click_sum
      |  FROM d WHERE a = 'click' GROUP BY 1
      |)
      |SELECT CAST(cx.x AS BIGINT) AS daypart, c_x AS n_decisions,
      |  CAST(COALESCE(c_click, 0) AS BIGINT) AS n_click,
      |  CAST(COALESCE(r_click_sum, 0) AS BIGINT) AS r_click_sum,
      |  CASE WHEN c_click IS NOT NULL
      |    THEN CAST(c_click AS DOUBLE) / c_x END AS propensity,
      |  CASE WHEN c_click IS NOT NULL AND c_click > 0
      |    THEN CAST(r_click_sum * c_x AS DOUBLE) / c_click END
      |    AS ips_weighted_reward,
      |  CASE WHEN c_click IS NOT NULL AND c_click > 0
      |    THEN CAST(r_click_sum AS DOUBLE) / c_click END AS dm_mean
      |FROM cx LEFT JOIN ca ON ca.x = cx.x""".stripMargin,
    "IPS replay of an always-click policy per daypart, beside direct-method") {
    (s, dir) =>
      val tu = unix_micros(col("ts"))
      val ud = Tables(s, dir, "events")
        .groupBy(col("user_id"),
          floor(tu / 86400000000L).cast("long").as("day"))
        .agg(min(struct(tu.as("v1"), col("event_id").as("v2"),
          col("event_type").as("v3"))).as("fe"),
          max(when(col("event_type") === "purchase", tu)).as("last_purch"))
      val d = ud.select(
        expr("((fe.v1 div 3600000000) % 24) div 4").as("x"),
        col("fe.v3").as("a"),
        when(col("last_purch").isNotNull &&
          col("last_purch") > col("fe.v1"), 1L).otherwise(0L).as("r"))
      val cx = d.groupBy(col("x"))
        .agg(count(lit(1)).cast("long").as("c_x"))
      val ca = d.where(col("a") === "click").groupBy(col("x"))
        .agg(count(lit(1)).cast("long").as("c_click"),
          sum(col("r")).cast("long").as("r_click_sum"))
      cx.join(ca, Seq("x"), "left")
        .select(col("x").cast("long").as("daypart"),
          col("c_x").as("n_decisions"),
          coalesce(col("c_click"), lit(0L)).cast("long").as("n_click"),
          coalesce(col("r_click_sum"), lit(0L)).cast("long")
            .as("r_click_sum"),
          when(col("c_click").isNotNull,
            col("c_click").cast("double") / col("c_x")).as("propensity"),
          when(col("c_click").isNotNull && col("c_click") > 0,
            (col("r_click_sum") * col("c_x")).cast("double") /
              col("c_click")).as("ips_weighted_reward"),
          when(col("c_click").isNotNull && col("c_click") > 0,
            col("r_click_sum").cast("double") / col("c_click"))
            .as("dm_mean"))
  }

  // ---------------------------------------------------------------- q260
  /** k-anonymization by generalization ladder — the FIX for what q243
    * measures (the q242-repairs-q218 / q149-repairs-q89 pattern):
    * release rows at the FINEST quasi-identifier granularity whose
    * cell holds >= k = 5 rows, walking (daypart, decile, user-bucket)
    * -> (daypart, decile) -> (daypart) -> (all). The ladder is
    * SEQUENTIAL-REMAINDER: level-L cells are counted over rows NOT
    * already released at finer levels, so every released cell's size
    * is >= 5 BY CONSTRUCTION (a naive per-row ladder leaks here: a
    * coarse cell can shrink below k after its qualifying sub-cells
    * leave). The report per level — rows, cells, smallest cell — IS
    * the release plan and its k-certificate; the final remainder is
    * the suppression set.
    *
    * Scale shape: one corpus pass per ladder level (cell counts are
    * domain-bounded partial aggs; remainder filtering is an anti-join
    * against the BROADCAST qualified-cell list) — ladder depth is the
    * pass count, never the corpus. */
  val q260AnonLadder: Q = Q.sql(
    "q260_anon_ladder",
    """WITH u AS MATERIALIZED (
      |  SELECT ((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24) // 4
      |      AS f1,
      |    CASE WHEN value IS NULL THEN -1 ELSE
      |      CAST(floor(1000 * CAST(floor(value * 100) AS BIGINT)
      |        / (CAST(floor(value * 100) AS BIGINT) + 5000)) AS BIGINT)
      |        // 100 END AS f2,
      |    user_id % 10 AS ub
      |  FROM events
      |), c0 AS MATERIALIZED (
      |  SELECT f1, f2, ub, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM u GROUP BY 1, 2, 3
      |), q0 AS MATERIALIZED (SELECT * FROM c0 WHERE n >= 5),
      |r1 AS MATERIALIZED (
      |  SELECT u.* FROM u WHERE NOT EXISTS (SELECT 1 FROM q0
      |    WHERE q0.f1 = u.f1 AND q0.f2 = u.f2 AND q0.ub = u.ub)
      |), c1 AS MATERIALIZED (
      |  SELECT f1, f2, CAST(COUNT(*) AS BIGINT) AS n FROM r1 GROUP BY 1, 2
      |), q1 AS MATERIALIZED (SELECT * FROM c1 WHERE n >= 5),
      |r2 AS MATERIALIZED (
      |  SELECT r1.* FROM r1 WHERE NOT EXISTS (SELECT 1 FROM q1
      |    WHERE q1.f1 = r1.f1 AND q1.f2 = r1.f2)
      |), c2 AS MATERIALIZED (
      |  SELECT f1, CAST(COUNT(*) AS BIGINT) AS n FROM r2 GROUP BY 1
      |), q2 AS MATERIALIZED (SELECT * FROM c2 WHERE n >= 5),
      |r3 AS MATERIALIZED (
      |  SELECT r2.* FROM r2 WHERE NOT EXISTS (SELECT 1 FROM q2
      |    WHERE q2.f1 = r2.f1)
      |)
      |SELECT CAST(0 AS BIGINT) AS level,
      |  CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  CAST(COALESCE(MIN(n), 0) AS BIGINT) AS min_cell
      |FROM q0
      |UNION ALL
      |SELECT 1, CAST(COALESCE(SUM(n), 0) AS BIGINT),
      |  CAST(COUNT(*) AS BIGINT), CAST(COALESCE(MIN(n), 0) AS BIGINT)
      |FROM q1
      |UNION ALL
      |SELECT 2, CAST(COALESCE(SUM(n), 0) AS BIGINT),
      |  CAST(COUNT(*) AS BIGINT), CAST(COALESCE(MIN(n), 0) AS BIGINT)
      |FROM q2
      |UNION ALL
      |SELECT 3, CAST(COUNT(*) AS BIGINT),
      |  CAST(CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END AS BIGINT),
      |  CAST(COUNT(*) AS BIGINT)
      |FROM r3""".stripMargin,
    "sequential-remainder QI generalization: per level rows/cells/min>=k") {
    (s, dir) =>
      val u = Tables(s, dir, "events").select(
        expr("((unix_micros(ts) div 3600000000) % 24) div 4").as("f1"),
        when(col("value").isNull, lit(-1L)).otherwise(
          expr("cast(floor(1000 * cast(floor(value * 100) as bigint)" +
            " / (cast(floor(value * 100) as bigint) + 5000)) as bigint)" +
            " div 100")).as("f2"),
        (col("user_id") % 10).as("ub"))
      def cellsOf(rows: DataFrame, keys: Seq[String]): DataFrame =
        rows.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).cast("long").as("n"))
      def stats(q: DataFrame, level: Long): DataFrame =
        q.agg(coalesce(sum(col("n")), lit(0L)).cast("long").as("n_rows"),
            count(lit(1)).cast("long").as("n_cells"),
            coalesce(min(col("n")), lit(0L)).cast("long").as("min_cell"))
          .select(lit(level).as("level"), col("n_rows"), col("n_cells"),
            col("min_cell"))
      val q0 = cellsOf(u, Seq("f1", "f2", "ub")).where(col("n") >= 5)
      val r1 = u.join(broadcast(q0.select("f1", "f2", "ub")),
        Seq("f1", "f2", "ub"), "left_anti")
      val q1 = cellsOf(r1, Seq("f1", "f2")).where(col("n") >= 5)
      val r2 = r1.join(broadcast(q1.select("f1", "f2")), Seq("f1", "f2"),
        "left_anti")
      val q2 = cellsOf(r2, Seq("f1")).where(col("n") >= 5)
      val r3 = r2.join(broadcast(q2.select("f1")), Seq("f1"), "left_anti")
      val l3 = r3.agg(count(lit(1)).cast("long").as("n_rows"))
        .select(lit(3L).as("level"), col("n_rows"),
          when(col("n_rows") > 0, 1L).otherwise(0L).as("n_cells"),
          col("n_rows").as("min_cell"))
      stats(q0, 0L).unionByName(stats(q1, 1L)).unionByName(stats(q2, 2L))
        .unionByName(l3)
  }

  // ---------------------------------------------------------------- q261
  /** Permutation feature importance (Breiman '01, the model-agnostic
    * explanation standard) of the q240 Naive Bayes: re-score every
    * held-out row with one feature replaced by an INDEPENDENT draw
    * from its training marginal (the distribution-preserving way to
    * break the feature-label link) and report the accuracy drop. The
    * "random" draw is the deterministic inverse-CDF trick: a per-row
    * md5 value lands in the feature's cumulative-count interval —
    * exact integers, so both engines draw the identical replacement.
    * Three variants (baseline, f1 permuted, f2 permuted) score in ONE
    * corpus pass: every conditional table and both CDF threshold
    * frames are bounded broadcasts, the NB decision stays the exact
    * DECIMAL(38,0) ≡ HUGEINT cross-product compare, and the roll-up is
    * one 6-column conditional agg stacked to 3 rows. */
  val q261PermImportance: Q = Q.sql(
    "q261_perm_importance",
    """WITH u AS MATERIALIZED (
      |  SELECT event_id,
      |    ((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24) // 4
      |      AS f1,
      |    CAST(floor(1000 * CAST(floor(value * 100) AS BIGINT)
      |      / (CAST(floor(value * 100) AS BIGINT) + 5000)) AS BIGINT) // 100
      |      AS f2,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
      |    ('0x' || substr(md5('smp|' || CAST(event_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 100 < 20 AS is_test
      |  FROM events
      |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
      |), tr AS MATERIALIZED (SELECT * FROM u WHERE NOT is_test),
      |pri AS (
      |  SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
      |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg,
      |    CAST(COUNT(*) AS BIGINT) AS t
      |  FROM tr
      |), c1 AS MATERIALIZED (
      |  SELECT f1, CAST(SUM(y) AS BIGINT) AS p,
      |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS q,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM tr GROUP BY 1
      |), c2 AS MATERIALIZED (
      |  SELECT f2, CAST(SUM(y) AS BIGINT) AS p,
      |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS q,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM tr GROUP BY 1
      |), m1 AS MATERIALIZED (
      |  SELECT f1, SUM(cnt) OVER (ORDER BY f1) - cnt AS lo,
      |    SUM(cnt) OVER (ORDER BY f1) AS hi
      |  FROM c1
      |), m2 AS MATERIALIZED (
      |  SELECT f2, SUM(cnt) OVER (ORDER BY f2) - cnt AS lo,
      |    SUM(cnt) OVER (ORDER BY f2) AS hi
      |  FROM c2
      |), te AS (
      |  SELECT u.f1, u.f2, u.y,
      |    m1.f1 AS f1p, m2.f2 AS f2p
      |  FROM u
      |  CROSS JOIN pri
      |  JOIN m1 ON (('0x' || substr(md5('pf1|' ||
      |      CAST(u.event_id AS VARCHAR)), 1, 15))::BIGINT % pri.t) >= m1.lo
      |    AND (('0x' || substr(md5('pf1|' ||
      |      CAST(u.event_id AS VARCHAR)), 1, 15))::BIGINT % pri.t) < m1.hi
      |  JOIN m2 ON (('0x' || substr(md5('pf2|' ||
      |      CAST(u.event_id AS VARCHAR)), 1, 15))::BIGINT % pri.t) >= m2.lo
      |    AND (('0x' || substr(md5('pf2|' ||
      |      CAST(u.event_id AS VARCHAR)), 1, 15))::BIGINT % pri.t) < m2.hi
      |  WHERE u.is_test
      |), sc AS (
      |  SELECT te.y,
      |    CAST(n_pos AS HUGEINT) * (COALESCE(b1.p, 0) + 1)
      |      * (COALESCE(b2.p, 0) + 1) * (n_neg + 6) * (n_neg + 10) AS lp_b,
      |    CAST(n_neg AS HUGEINT) * (COALESCE(b1.q, 0) + 1)
      |      * (COALESCE(b2.q, 0) + 1) * (n_pos + 6) * (n_pos + 10) AS ln_b,
      |    CAST(n_pos AS HUGEINT) * (COALESCE(p1.p, 0) + 1)
      |      * (COALESCE(b2.p, 0) + 1) * (n_neg + 6) * (n_neg + 10) AS lp_1,
      |    CAST(n_neg AS HUGEINT) * (COALESCE(p1.q, 0) + 1)
      |      * (COALESCE(b2.q, 0) + 1) * (n_pos + 6) * (n_pos + 10) AS ln_1,
      |    CAST(n_pos AS HUGEINT) * (COALESCE(b1.p, 0) + 1)
      |      * (COALESCE(p2.p, 0) + 1) * (n_neg + 6) * (n_neg + 10) AS lp_2,
      |    CAST(n_neg AS HUGEINT) * (COALESCE(b1.q, 0) + 1)
      |      * (COALESCE(p2.q, 0) + 1) * (n_pos + 6) * (n_pos + 10) AS ln_2
      |  FROM te
      |  CROSS JOIN pri
      |  LEFT JOIN c1 b1 ON b1.f1 = te.f1
      |  LEFT JOIN c1 p1 ON p1.f1 = te.f1p
      |  LEFT JOIN c2 b2 ON b2.f2 = te.f2
      |  LEFT JOIN c2 p2 ON p2.f2 = te.f2p
      |), agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
      |    CAST(SUM(CASE WHEN (CASE WHEN lp_b > ln_b THEN 1 ELSE 0 END) = y
      |      THEN 1 ELSE 0 END) AS BIGINT) AS ok_b,
      |    CAST(SUM(CASE WHEN (CASE WHEN lp_1 > ln_1 THEN 1 ELSE 0 END) = y
      |      THEN 1 ELSE 0 END) AS BIGINT) AS ok_1,
      |    CAST(SUM(CASE WHEN (CASE WHEN lp_2 > ln_2 THEN 1 ELSE 0 END) = y
      |      THEN 1 ELSE 0 END) AS BIGINT) AS ok_2
      |  FROM sc
      |)
      |SELECT 'baseline' AS variant, n_test, ok_b AS n_correct,
      |  CAST(ok_b AS DOUBLE) / n_test AS acc FROM agg
      |UNION ALL
      |SELECT 'perm_f1', n_test, ok_1, CAST(ok_1 AS DOUBLE) / n_test
      |FROM agg
      |UNION ALL
      |SELECT 'perm_f2', n_test, ok_2, CAST(ok_2 AS DOUBLE) / n_test
      |FROM agg""".stripMargin,
    "NB accuracy under marginal-draw feature permutation, per feature") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .where(col("event_type").isin("purchase", "click") &&
          col("value").isNotNull)
        .select(col("event_id"),
          expr("((unix_micros(ts) div 3600000000) % 24) div 4").as("f1"),
          expr("cast(floor(1000 * cast(floor(value * 100) as bigint)" +
            " / (cast(floor(value * 100) as bigint) + 5000)) as bigint)" +
            " div 100").as("f2"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
          (graft.ops.Text.baseHash(
            concat(lit("smp|"), col("event_id").cast("string"))) % 100 < 20)
            .as("is_test"))
      val tr = u.where(!col("is_test"))
      val pri = tr.agg(sum(col("y")).cast("long").as("n_pos"),
        (count(lit(1)) - sum(col("y"))).cast("long").as("n_neg"),
        count(lit(1)).cast("long").as("t"))
      def cond(f: String) = tr.groupBy(col(f))
        .agg(sum(col("y")).cast("long").as("p"),
          (count(lit(1)) - sum(col("y"))).cast("long").as("q"),
          count(lit(1)).cast("long").as("cnt"))
      val c1 = cond("f1"); val c2 = cond("f2")
      def cdf(c: DataFrame, f: String) = {
        val w = Window.orderBy(col(f))
        c.select(col(f), (sum(col("cnt")).over(w) - col("cnt")).as("lo"),
          sum(col("cnt")).over(w).as("hi"))
      }
      val m1 = cdf(c1, "f1"); val m2 = cdf(c2, "f2")
      def draw(tag: String): Column =
        graft.ops.Text.baseHash(
          concat(lit(tag), col("event_id").cast("string"))) % col("t")
      val te = u.where(col("is_test"))
        .crossJoin(broadcast(pri))
        .join(broadcast(m1.withColumnRenamed("f1", "f1p")),
          draw("pf1|") >= col("lo") && draw("pf1|") < col("hi"))
        .drop("lo", "hi")
        .join(broadcast(m2.withColumnRenamed("f2", "f2p")),
          draw("pf2|") >= col("lo") && draw("pf2|") < col("hi"))
        .select(col("f1"), col("f2"), col("y"), col("f1p"), col("f2p"),
          col("n_pos"), col("n_neg"))
      def big(c: Column): Column = c.cast("decimal(38,0)")
      def z(c: Column): Column = coalesce(c, lit(0L))
      def lp(p1c: Column, p2c: Column): Column =
        big(col("n_pos")) * big(z(p1c) + 1) * big(z(p2c) + 1) *
          big(col("n_neg") + 6) * big(col("n_neg") + 10)
      def ln(q1c: Column, q2c: Column): Column =
        big(col("n_neg")) * big(z(q1c) + 1) * big(z(q2c) + 1) *
          big(col("n_pos") + 6) * big(col("n_pos") + 10)
      val sc = te
        .join(broadcast(c1.select(col("f1"), col("p").as("b1p"),
          col("q").as("b1q"))), Seq("f1"), "left")
        .join(broadcast(c1.select(col("f1").as("f1p"), col("p").as("p1p"),
          col("q").as("p1q"))), Seq("f1p"), "left")
        .join(broadcast(c2.select(col("f2"), col("p").as("b2p"),
          col("q").as("b2q"))), Seq("f2"), "left")
        .join(broadcast(c2.select(col("f2").as("f2p"), col("p").as("p2p"),
          col("q").as("p2q"))), Seq("f2p"), "left")
      def okCol(lpc: Column, lnc: Column): Column =
        sum(when(when(lpc > lnc, 1L).otherwise(0L) === col("y"), 1L)
          .otherwise(0L)).cast("long")
      val agg = sc.agg(count(lit(1)).cast("long").as("n_test"),
        okCol(lp(col("b1p"), col("b2p")), ln(col("b1q"), col("b2q")))
          .as("ok_b"),
        okCol(lp(col("p1p"), col("b2p")), ln(col("p1q"), col("b2q")))
          .as("ok_1"),
        okCol(lp(col("b1p"), col("p2p")), ln(col("b1q"), col("p2q")))
          .as("ok_2"))
      def rowOf(variant: String, ok: String): DataFrame =
        agg.select(lit(variant).as("variant"), col("n_test"),
          col(ok).as("n_correct"),
          (col(ok).cast("double") / col("n_test")).as("acc"))
      rowOf("baseline", "ok_b").unionByName(rowOf("perm_f1", "ok_1"))
        .unionByName(rowOf("perm_f2", "ok_2"))
  }

  // ---------------------------------------------------------------- q262
  /** EXACT median without a global sort — the two-pass histogram
    * refinement (the Munro–Paterson / BigQuery-EXACT_QUANTILES idea):
    * pass 1 partial-aggregates a bounded bucket histogram per group and
    * a cumsum locates the bucket containing the target rank; pass 2
    * re-scans ONLY rows in that one bucket (a broadcast semi-filter)
    * and ranks the survivors. q75's exact quantiles sort whole groups
    * — fine until one group is a terabyte; q204's sketch is
    * approximate; this is the exact answer whose sort touches 1/buckets
    * of the data. Lower median (rank (n+1)//2), all integer.
    *
    * The refinement windows partition by event_type and see only the
    * target bucket's rows — at 100 TB that second pass sorts ~1% of
    * each group, and a deeper bucket ladder shrinks it geometrically. */
  val q262ExactMedian: Q = Q.sql(
    "q262_exact_median",
    """WITH u AS MATERIALIZED (
      |  SELECT event_type AS g, CAST(floor(value * 100) AS BIGINT) AS vc
      |  FROM events WHERE value IS NOT NULL
      |), h AS MATERIALIZED (
      |  SELECT g, vc // 100 AS b, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM u GROUP BY 1, 2
      |), r AS (
      |  SELECT g, b, n,
      |    CAST(SUM(n) OVER (PARTITION BY g ORDER BY b) - n AS BIGINT)
      |      AS below,
      |    CAST(SUM(n) OVER (PARTITION BY g) AS BIGINT) AS n_g
      |  FROM h
      |), tgt AS MATERIALIZED (
      |  SELECT g, b, below, n AS n_in_bucket, n_g,
      |    (n_g + 1) // 2 AS k
      |  FROM r
      |  WHERE below < (n_g + 1) // 2 AND below + n >= (n_g + 1) // 2
      |), fine AS (
      |  SELECT u.g, u.vc, tgt.k, tgt.below, tgt.b, tgt.n_in_bucket,
      |    tgt.n_g,
      |    ROW_NUMBER() OVER (PARTITION BY u.g ORDER BY u.vc) AS rk
      |  FROM u JOIN tgt ON tgt.g = u.g AND u.vc // 100 = tgt.b
      |)
      |SELECT g AS event_type, n_g AS n, CAST(k AS BIGINT) AS k,
      |  CAST(b AS BIGINT) AS bucket, n_in_bucket,
      |  vc AS median_cents
      |FROM fine WHERE rk = k - below""".stripMargin,
    "exact lower median per group via 2-pass bucket refinement, no full sort") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .where(col("value").isNotNull)
        .select(col("event_type").as("g"),
          floor(col("value") * 100).cast("long").as("vc"))
      val h = u.groupBy(col("g"), expr("vc div 100").as("b"))
        .agg(count(lit(1)).cast("long").as("n"))
      val wCum = Window.partitionBy(col("g")).orderBy(col("b"))
      val wAll = Window.partitionBy(col("g"))
      val r = h.select(col("g"), col("b"), col("n"),
        (sum(col("n")).over(wCum) - col("n")).cast("long").as("below"),
        sum(col("n")).over(wAll).cast("long").as("n_g"))
      val tgt = r
        .select(col("g"), col("b"), col("below"), col("n").as("n_in_bucket"),
          col("n_g"), expr("(n_g + 1) div 2").as("k"))
        .where(col("below") < col("k") &&
          col("below") + col("n_in_bucket") >= col("k"))
      val wFine = Window.partitionBy(col("g")).orderBy(col("vc"))
      val tgt2 = tgt.withColumnRenamed("g", "g2")
      u.join(broadcast(tgt2), col("g") === col("g2") &&
          expr("vc div 100") === col("b"))
        .drop("g2")
        .withColumn("rk", row_number().over(wFine))
        .where(col("rk") === col("k") - col("below"))
        .select(col("g").as("event_type"), col("n_g").as("n"),
          col("k").cast("long").as("k"), col("b").cast("long").as("bucket"),
          col("n_in_bucket"), col("vc").as("median_cents"))
  }

  // ---------------------------------------------------------------- q264
  /** Join-consistent "universe" sampling (the Quickr/BlinkDB sampler)
    * — THE way to sample a star schema: hash-sample the JOIN KEY
    * universe (5% of customers) and take every row of every table
    * belonging to a sampled key, so joins inside the sample behave
    * exactly like joins in the full data (scale-up factor 20, exact).
    * Independently row-sampling both sides at 5% retains only p² =
    * 0.25% of join results — measured on the fixture: the universe
    * sample keeps 3,483 of 60,000 join rows (5.8% ≈ p) where the
    * two-sided row sample keeps 148 (0.25% = p²), a 20× effective-
    * sample-size gap that makes the row-sample estimator's variance
    * ~20× worse at the same nominal rate. Exact totals, both sampled
    * masses, both integer scale-ups (×20, ×400) and both join-row
    * retentions are emitted side by side — the sampling-design
    * decision as one row of numbers.
    *
    * All sums exact integer centi-units; sampling predicates are
    * map-side md5 on the join key; the sampled join keys on
    * o_orderkey exactly like the full one. */
  val q264UniverseSample: Q = Q.sql(
    "q264_universe_sample",
    """WITH o AS MATERIALIZED (
      |  SELECT o_orderkey, o_custkey,
      |    ('0x' || substr(md5('uni|' || CAST(o_custkey AS VARCHAR)),
      |      1, 15))::BIGINT % 100 < 5 AS cust_in,
      |    ('0x' || substr(md5('rowo|' || CAST(o_orderkey AS VARCHAR)),
      |      1, 15))::BIGINT % 100 < 5 AS row_in
      |  FROM orders
      |), l AS MATERIALIZED (
      |  SELECT l_orderkey, CAST(floor(l_extendedprice * 100) AS BIGINT)
      |      AS cents,
      |    ('0x' || substr(md5('rowl|' || CAST(l_orderkey AS VARCHAR)
      |      || '#' || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
      |      % 100 < 5 AS row_in
      |  FROM lineitem
      |), j AS (
      |  SELECT o.cust_in, o.row_in AS o_row_in, l.row_in AS l_row_in,
      |    l.cents
      |  FROM o JOIN l ON l.l_orderkey = o.o_orderkey
      |)
      |SELECT
      |  CAST(SUM(cents) AS BIGINT) AS exact_cents,
      |  CAST(SUM(CASE WHEN cust_in THEN cents ELSE 0 END) AS BIGINT)
      |    AS universe_cents,
      |  CAST(SUM(CASE WHEN cust_in THEN cents ELSE 0 END) * 20 AS BIGINT)
      |    AS universe_est,
      |  CAST(SUM(CASE WHEN o_row_in AND l_row_in THEN cents ELSE 0 END)
      |    AS BIGINT) AS rowsample_cents,
      |  CAST(SUM(CASE WHEN o_row_in AND l_row_in THEN cents ELSE 0 END)
      |    * 400 AS BIGINT) AS rowsample_est,
      |  CAST(COUNT(*) AS BIGINT) AS join_rows,
      |  CAST(SUM(CASE WHEN cust_in THEN 1 ELSE 0 END) AS BIGINT)
      |    AS universe_join_rows,
      |  CAST(SUM(CASE WHEN o_row_in AND l_row_in THEN 1 ELSE 0 END)
      |    AS BIGINT) AS rowsample_join_rows
      |FROM j""".stripMargin,
    "universe vs two-sided row sampling of a join: estimates side by side") {
    (s, dir) =>
      def h(tag: String, c: Column): Column =
        graft.ops.Text.baseHash(concat(lit(tag), c.cast("string"))) % 100 < 5
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          h("uni|", col("o_custkey")).as("cust_in"),
          h("rowo|", col("o_orderkey")).as("o_row_in"))
      val l = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"),
          h("rowl|", concat(col("l_orderkey").cast("string"), lit("#"),
            col("l_linenumber").cast("string"))).as("l_row_in"))
      val j = o.join(l, col("l_orderkey") === col("o_orderkey"))
      j.agg(
        sum(col("cents")).cast("long").as("exact_cents"),
        sum(when(col("cust_in"), col("cents")).otherwise(0L)).cast("long")
          .as("universe_cents"),
        (sum(when(col("cust_in"), col("cents")).otherwise(0L)) * 20)
          .cast("long").as("universe_est"),
        sum(when(col("o_row_in") && col("l_row_in"), col("cents"))
          .otherwise(0L)).cast("long").as("rowsample_cents"),
        (sum(when(col("o_row_in") && col("l_row_in"), col("cents"))
          .otherwise(0L)) * 400).cast("long").as("rowsample_est"),
        count(lit(1)).cast("long").as("join_rows"),
        sum(when(col("cust_in"), 1L).otherwise(0L)).cast("long")
          .as("universe_join_rows"),
        sum(when(col("o_row_in") && col("l_row_in"), 1L).otherwise(0L))
          .cast("long").as("rowsample_join_rows"))
  }

  // ---------------------------------------------------------------- q266
  /** Pairwise Cramér's V association matrix over the categorical
    * columns (event_type, daypart, value decile, user bucket) — the
    * column-redundancy scan a feature pipeline runs before training
    * (two near-deterministically associated columns waste model
    * capacity and can hide leakage) and the multivariate extension of
    * q147's per-column profile. χ² accumulates as exact integer cross
    * products over each bounded contingency table (q163's discipline,
    * observed·N vs row·col totals), V = sqrt(χ²/(N·(min(r,c)−1)))
    * one fixed-parenthesization tree per pair.
    *
    * Scale shape: ONE corpus pass builds all six contingency tables
    * via a stacked (pair, a, b) partial agg (map-side explode of 6
    * constant pairs per row — bounded width); everything downstream
    * rides the ≤sum-of-table-sizes frame. */
  val q266CramersV: Q = Q.sql(
    "q266_cramers_v",
    """WITH u AS MATERIALIZED (
      |  SELECT event_type AS c1,
      |    CAST(((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24) // 4
      |      AS VARCHAR) AS c2,
      |    CAST(CASE WHEN value IS NULL THEN -1 ELSE
      |      CAST(floor(1000 * CAST(floor(value * 100) AS BIGINT)
      |        / (CAST(floor(value * 100) AS BIGINT) + 5000)) AS BIGINT)
      |        // 100 END AS VARCHAR) AS c3,
      |    CAST(user_id % 10 AS VARCHAR) AS c4
      |  FROM events
      |), p AS (
      |  SELECT pair, a, b, CAST(COUNT(*) AS BIGINT) AS o
      |  FROM (
      |    SELECT 'type_daypart' AS pair, c1 AS a, c2 AS b FROM u
      |    UNION ALL SELECT 'type_decile', c1, c3 FROM u
      |    UNION ALL SELECT 'type_bucket', c1, c4 FROM u
      |    UNION ALL SELECT 'daypart_decile', c2, c3 FROM u
      |    UNION ALL SELECT 'daypart_bucket', c2, c4 FROM u
      |    UNION ALL SELECT 'decile_bucket', c3, c4 FROM u)
      |  GROUP BY 1, 2, 3
      |), lev AS (
      |  SELECT pair, CAST(COUNT(DISTINCT a) AS BIGINT) AS nr,
      |    CAST(COUNT(DISTINCT b) AS BIGINT) AS nc
      |  FROM p GROUP BY 1
      |), m AS (
      |  SELECT pair, a, b, o,
      |    CAST(SUM(o) OVER (PARTITION BY pair, a) AS BIGINT) AS ra,
      |    CAST(SUM(o) OVER (PARTITION BY pair, b) AS BIGINT) AS cb,
      |    CAST(SUM(o) OVER (PARTITION BY pair) AS BIGINT) AS n
      |  FROM p
      |), x AS (
      |  SELECT pair, n,
      |    list_reduce(
      |      list((CAST(o AS DOUBLE) * n - CAST(ra AS DOUBLE) * cb)
      |        * (CAST(o AS DOUBLE) * n - CAST(ra AS DOUBLE) * cb)
      |        / (CAST(ra AS DOUBLE) * cb * n) ORDER BY a, b),
      |      (x, y) -> x + y) AS chisq
      |  FROM m GROUP BY 1, 2
      |)
      |SELECT x.pair, n, nr AS r_levels, nc AS c_levels, chisq,
      |  sqrt(chisq / (CAST(n AS DOUBLE)
      |    * (CASE WHEN nr < nc THEN nr ELSE nc END - 1))) AS cramers_v
      |FROM x JOIN lev ON lev.pair = x.pair""".stripMargin,
    "pairwise Cramér's V over four categorical columns, one corpus pass") {
    (s, dir) =>
      val u = Tables(s, dir, "events").select(
        col("event_type").as("c1"),
        expr("cast(((unix_micros(ts) div 3600000000) % 24) div 4" +
          " as string)").as("c2"),
        when(col("value").isNull, lit("-1")).otherwise(
          expr("cast(cast(floor(1000 * cast(floor(value * 100) as bigint)" +
            " / (cast(floor(value * 100) as bigint) + 5000)) as bigint)" +
            " div 100 as string)")).as("c3"),
        (col("user_id") % 10).cast("string").as("c4"))
      val pairs = Seq(("type_daypart", "c1", "c2"),
        ("type_decile", "c1", "c3"), ("type_bucket", "c1", "c4"),
        ("daypart_decile", "c2", "c3"), ("daypart_bucket", "c2", "c4"),
        ("decile_bucket", "c3", "c4"))
      val stacked = u.select(explode(array(pairs.map { case (nm, x, y) =>
        struct(lit(nm).as("pair"), col(x).as("a"), col(y).as("b"))
      }: _*)).as("s")).select(col("s.pair").as("pair"), col("s.a").as("a"),
        col("s.b").as("b"))
      val p = stacked.groupBy(col("pair"), col("a"), col("b"))
        .agg(count(lit(1)).cast("long").as("o"))
      val lev = p.groupBy(col("pair"))
        .agg(countDistinct(col("a")).cast("long").as("nr"),
          countDistinct(col("b")).cast("long").as("nc"))
      val wa = Window.partitionBy(col("pair"), col("a"))
      val wb = Window.partitionBy(col("pair"), col("b"))
      val wp = Window.partitionBy(col("pair"))
      val m = p.select(col("pair"), col("a"), col("b"), col("o"),
        sum(col("o")).over(wa).cast("long").as("ra"),
        sum(col("o")).over(wb).cast("long").as("cb"),
        sum(col("o")).over(wp).cast("long").as("n"))
      val dev = col("o").cast("double") * col("n") -
        col("ra").cast("double") * col("cb")
      // chi-square terms fold LEFT-ASSOCIATED in (a, b) order — a plain
      // double SUM is aggregation-order-dependent and flips ulps between
      // engines (observed before this spelling; q236's fold discipline)
      val x = m.select(col("pair"), col("n"),
          struct(col("a"), col("b"),
            (dev * dev / (col("ra").cast("double") * col("cb") *
              col("n"))).as("term")).as("cell"))
        .groupBy(col("pair"), col("n"))
        .agg(aggregate(
          transform(sort_array(collect_list(col("cell"))),
            c => c.getField("term")),
          lit(0.0), (acc, t) => acc + t).as("chisq"))
      x.join(lev, Seq("pair"))
        .select(col("pair"), col("n"), col("nr").as("r_levels"),
          col("nc").as("c_levels"), col("chisq"),
          sqrt(col("chisq") / (col("n").cast("double") *
            (when(col("nr") < col("nc"), col("nr")).otherwise(col("nc"))
              - 1))).as("cramers_v"))
  }

  // ---------------------------------------------------------------- q267
  /** Linear-interpolation gap fill (pandas `interpolate('linear')`) —
    * the fill method q130's LOCF can't provide when the series feeds
    * arithmetic (LOCF biases sums low on rising series and invents
    * plateaus): every missing (type, hour) cell gets
    * v_prev + (v_next − v_prev)·(h − h_prev)/(h_next − h_prev), with
    * the available side held at the edges. All inputs are exact
    * integers (hourly counts, hour indexes); the interpolation is ONE
    * fixed-parenthesization double expression, so both engines emit
    * identical bits (no iterative smoothing, no accumulated float
    * state).
    *
    * Scale shape: the hourly series is a partial agg; the grid is
    * span-bounded per type; prev/next observations come from two
    * IGNORE NULLS windows riding the SAME type-keyed exchange. */
  val q267LinearInterp: Q = Q.sql(
    "q267_linear_interp",
    """WITH hourly AS (
      |  SELECT event_type AS g,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) AS h,
      |    CAST(COUNT(*) AS BIGINT) AS v
      |  FROM events WHERE user_id % 7 = 0 GROUP BY 1, 2
      |), span AS (
      |  SELECT g, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
      |), grid AS (
      |  SELECT g, unnest(range(h0, h1 + 1)) AS h FROM span
      |), j AS (
      |  SELECT grid.g, grid.h, hourly.v
      |  FROM grid LEFT JOIN hourly
      |    ON hourly.g = grid.g AND hourly.h = grid.h
      |), w AS (
      |  SELECT g, h, v,
      |    LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY g ORDER BY h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
      |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
      |      OVER (PARTITION BY g ORDER BY h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hp,
      |    FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY g ORDER BY h
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
      |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
      |      OVER (PARTITION BY g ORDER BY h
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS hn
      |  FROM j
      |)
      |SELECT g AS event_type, CAST(h AS BIGINT) AS hour_index,
      |  v IS NOT NULL AS observed, v AS raw,
      |  CASE
      |    WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
      |    WHEN vp IS NULL THEN CAST(vn AS DOUBLE)
      |    WHEN vn IS NULL THEN CAST(vp AS DOUBLE)
      |    ELSE CAST(vp AS DOUBLE)
      |      + (CAST(vn - vp AS DOUBLE) * (h - hp)) / (hn - hp)
      |  END AS filled
      |FROM w""".stripMargin,
    "dense hourly grid with linear interpolation between observations") {
    (s, dir) =>
      val hourly = Tables(s, dir, "events")
        .where(col("user_id") % 7 === 0)
        .groupBy(col("event_type").as("g"),
          floor(unix_micros(col("ts")) / 3600000000L).cast("long").as("h"))
        .agg(count(lit(1)).cast("long").as("v"))
      val grid = hourly.groupBy(col("g"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("g"),
          explode(sequence(col("h0"), col("h1"))).as("h"))
      val wPrev = Window.partitionBy(col("g")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("g")).orderBy(col("h"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val j = grid.join(hourly, Seq("g", "h"), "left")
      val w = j.select(col("g"), col("h"), col("v"),
        last(col("v"), ignoreNulls = true).over(wPrev).as("vp"),
        last(when(col("v").isNotNull, col("h")), ignoreNulls = true)
          .over(wPrev).as("hp"),
        first(col("v"), ignoreNulls = true).over(wNext).as("vn"),
        first(when(col("v").isNotNull, col("h")), ignoreNulls = true)
          .over(wNext).as("hn"))
      w.select(col("g").as("event_type"),
        col("h").cast("long").as("hour_index"),
        col("v").isNotNull.as("observed"), col("v").as("raw"),
        when(col("v").isNotNull, col("v").cast("double"))
          .when(col("vp").isNull, col("vn").cast("double"))
          .when(col("vn").isNull, col("vp").cast("double"))
          .otherwise(col("vp").cast("double") +
            ((col("vn") - col("vp")).cast("double") *
              (col("h") - col("hp"))) / (col("hn") - col("hp")))
          .as("filled"))
  }

  // ---------------------------------------------------------------- q268
  /** Precision-recall curve + exact average precision (sklearn
    * `average_precision_score`) — the eval metric that matters when
    * positives are rare, where q216's ROC-AUC stays optimistically
    * flat: every distinct score threshold (descending) gets exact
    * integer TP/FP off cumulative sums over the bounded distinct-score
    * frame, precision and recall are single divisions, and AP = Σ ΔR·P
    * folds LEFT-ASSOCIATED over descending thresholds (the q236/q266
    * fold discipline — a plain double SUM is aggregation-order-
    * dependent), carried as a running column whose last row is the
    * final AP.
    *
    * Scale shape: ONE conditional partial agg collapses the corpus to
    * the ≤1000-row distinct-score histogram; every window and the fold
    * ride that bounded frame (q216's shape, pointed at PR space). */
  val q268PrCurve: Q = Q.sql(
    "q268_pr_curve",
    """WITH u AS (
      |  SELECT CAST(floor(1000 * CAST(floor(value * 100) AS BIGINT)
      |      / (CAST(floor(value * 100) AS BIGINT) + 5000)) AS BIGINT)
      |      AS sc,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events
      |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
      |), h AS (
      |  SELECT sc, CAST(SUM(y) AS BIGINT) AS pos,
      |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
      |  FROM u GROUP BY 1
      |), c AS (
      |  SELECT sc, pos, neg,
      |    CAST(SUM(pos) OVER (ORDER BY sc DESC) AS BIGINT) AS tp,
      |    CAST(SUM(neg) OVER (ORDER BY sc DESC) AS BIGINT) AS fp,
      |    CAST(SUM(pos) OVER () AS BIGINT) AS pos_tot,
      |    CAST(COUNT(*) OVER (ORDER BY sc DESC) AS BIGINT) AS k
      |  FROM h
      |), f AS MATERIALIZED (
      |  SELECT sc, pos, tp, fp, pos_tot, k,
      |    CAST(tp AS DOUBLE) / (tp + fp) AS precision,
      |    CAST(tp AS DOUBLE) / pos_tot AS recall,
      |    (CAST(pos AS DOUBLE) / pos_tot)
      |      * (CAST(tp AS DOUBLE) / (tp + fp)) AS ap_term
      |  FROM c
      |), al AS (
      |  SELECT list(ap_term ORDER BY sc DESC) AS ts FROM f
      |)
      |SELECT sc AS threshold, tp, fp, precision, recall,
      |  list_reduce(ts[:k], (a, b) -> a + b) AS ap_so_far
      |FROM f, al""".stripMargin,
    "PR curve over distinct thresholds with running exact average precision") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .where(col("event_type").isin("purchase", "click") &&
          col("value").isNotNull)
        .select(
          expr("cast(floor(1000 * cast(floor(value * 100) as bigint)" +
            " / (cast(floor(value * 100) as bigint) + 5000)) as bigint)")
            .as("sc"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      val h = u.groupBy(col("sc"))
        .agg(sum(col("y")).cast("long").as("pos"),
          (count(lit(1)) - sum(col("y"))).cast("long").as("neg"))
      val wDesc = Window.orderBy(col("sc").desc)
      val wCum = wDesc.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val wAll = Window.partitionBy()
      val c = h.select(col("sc"), col("pos"), col("neg"),
        sum(col("pos")).over(wCum).cast("long").as("tp"),
        sum(col("neg")).over(wCum).cast("long").as("fp"),
        sum(col("pos")).over(wAll).cast("long").as("pos_tot"),
        count(lit(1)).over(wCum).cast("long").as("k"))
      val f = c.select(col("sc"), col("pos"), col("tp"), col("fp"),
        col("pos_tot"), col("k"),
        (col("tp").cast("double") / (col("tp") + col("fp")))
          .as("precision"),
        (col("tp").cast("double") / col("pos_tot")).as("recall"),
        ((col("pos").cast("double") / col("pos_tot")) *
          (col("tp").cast("double") / (col("tp") + col("fp"))))
          .as("ap_term"))
      // ordered term list as one bounded row, broadcast back (q236)
      val al = f.agg(transform(
        sort_array(collect_list(struct((-col("sc")).as("nsc"),
          col("ap_term").as("t")))),
        x => x.getField("t")).as("ts"))
      f.crossJoin(broadcast(al))
        .select(col("sc").as("threshold"), col("tp"), col("fp"),
          col("precision"), col("recall"),
          aggregate(slice(col("ts"), lit(1), col("k").cast("int")),
            lit(0.0), (acc, x) => acc + x).as("ap_so_far"))
  }

  // ---------------------------------------------------------------- q271
  /** Heterogeneous treatment effects (per-segment uplift) — the
    * question AFTER q174/q225/q230 establish THAT the treatment works:
    * WHERE does it work? Users are segmented into engagement quintiles
    * (NTILE over event counts, deterministic tiebreak — q230's
    * pre-period discipline) and each segment reports its own treated
    * vs control conversion rates and uplift, ranked by uplift with
    * full tiebreaks — the targeting readout (roll out to the segments
    * that respond; q234's gains logic applied to a treatment).
    *
    * Counts exact bigints off ONE user partial agg; rates and uplift
    * fixed-parenthesization divisions; NTILE sorts only the user
    * dimension. */
  val q271UpliftSegments: Q = Q.sql(
    "q271_uplift_segments",
    """WITH u AS (
      |  SELECT user_id, user_id % 2 AS arm,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS conv,
      |    CAST(COUNT(*) AS BIGINT) AS n_ev
      |  FROM events GROUP BY 1, 2
      |), q AS (
      |  SELECT user_id, arm, conv,
      |    CAST(NTILE(5) OVER (ORDER BY n_ev, user_id) AS BIGINT) AS seg
      |  FROM u
      |), c AS (
      |  SELECT seg,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_t,
      |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
      |      AS conv_t,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_c,
      |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
      |      AS conv_c
      |  FROM q GROUP BY 1
      |), d AS (
      |  SELECT seg, n_t, conv_t, n_c, conv_c,
      |    CAST(conv_t AS DOUBLE) / n_t AS rate_t,
      |    CAST(conv_c AS DOUBLE) / n_c AS rate_c,
      |    CAST(conv_t AS DOUBLE) / n_t - CAST(conv_c AS DOUBLE) / n_c
      |      AS uplift
      |  FROM c
      |)
      |SELECT seg, n_t, conv_t, n_c, conv_c, rate_t, rate_c, uplift,
      |  CAST(ROW_NUMBER() OVER (ORDER BY uplift DESC, seg) AS BIGINT)
      |    AS rnk
      |FROM d""".stripMargin,
    "per-engagement-quintile treated vs control conversion uplift, ranked") {
    (s, dir) =>
      val u = Tables(s, dir, "events")
        .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"), count(lit(1)).cast("long").as("n_ev"))
      // engagement quintiles without the single-reducer user-dimension
      // sort (graft.ops.Ranks, q226's respelling): bucket = the event
      // count itself (small-int domain), exact rank + closed-form tile
      val un = u.crossJoin(broadcast(
        u.agg(count(lit(1)).cast("long").as("__n"))))
      val ranked = graft.ops.Ranks.withGlobalRowNumber(un, "__rn",
        col("n_ev"), Seq(col("n_ev"), col("user_id")))
      val q = ranked.select(col("user_id"), col("arm"), col("conv"),
        graft.ops.Ranks.ntileFromRank(col("__rn"), col("__n"), 5)
          .cast("long").as("seg"))
      val c = q.groupBy(col("seg"))
        .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_t"),
          sum(when(col("arm") === 1, col("conv")).otherwise(0L))
            .cast("long").as("conv_t"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("long")
            .as("n_c"),
          sum(when(col("arm") === 0, col("conv")).otherwise(0L))
            .cast("long").as("conv_c"))
      val d = c.select(col("seg"), col("n_t"), col("conv_t"), col("n_c"),
        col("conv_c"),
        (col("conv_t").cast("double") / col("n_t")).as("rate_t"),
        (col("conv_c").cast("double") / col("n_c")).as("rate_c"),
        (col("conv_t").cast("double") / col("n_t") -
          col("conv_c").cast("double") / col("n_c")).as("uplift"))
      d.select(col("seg"), col("n_t"), col("conv_t"), col("n_c"),
        col("conv_c"), col("rate_t"), col("rate_c"), col("uplift"),
        row_number().over(Window.orderBy(col("uplift").desc, col("seg")))
          .cast("long").as("rnk"))
  }

  // ---------------------------------------------------------------- q278
  /** Krippendorff's alpha (nominal) — the agreement coefficient q253's
    * Cohen kappa cannot be: kappa handles exactly TWO raters with
    * complete data; alpha handles any rater count AND missing ratings,
    * which is what real annotation projects produce. Three weak
    * labelers rate every document into four nominal buckets (labeler 1
    * from `lang`, labeler 2 from `source`, labeler 3 from length —
    * three independent views of "what kind of doc is this"), and
    * labeler 3 abstains on a deterministic 1/5 of docs, exercising the
    * m_u=2 vs m_u=3 weighting that distinguishes alpha from kappa.
    *
    * Exactness: the coincidence matrix is kept in DOUBLED integer
    * units — each unit u contributes 2·r_uc·(r_uk − δ_ck)/(m_u − 1) to
    * O_ck, integral because m_u−1 ∈ {1,2} and the c=k numerator is
    * even — so Do, De and every marginal are exact bigints;
    * alpha = 1 − (ΣN−2)·ΣoffO / ((ΣN)² − ΣN_c²) is the single double
    * division at emission (derivation: Do/De = 2(n−1)·Σoff o/Σ_{c≠k}
    * n_c·n_k with o = O/2, n_c = N_c/2, 2(n−1) = ΣN−2 — the doubled
    * units fold the usual 1/n and 1/(n(n−1)) normalizers away;
    * checked against a rater-loop reference implementation).
    *
    * Scale: ratings are map-side projections; per-unit category counts
    * one partial agg; the per-unit pair expansion fans out ≤ 9 rows per
    * doc (3 raters ⇒ ≤ 3 distinct categories); everything lands in a
    * ≤ 16-row matrix crossed with one broadcast scalar row. */
  val q278KrippendorffAlpha: Q = Q.sql(
    "q278_krippendorff_alpha",
    """WITH ratings AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('k1|' || lang), 1, 15))::BIGINT % 4 AS cat
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id,
      |    ('0x' || substr(md5('k2|' || source), 1, 15))::BIGINT % 4
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, LEAST(3, n_chars // 100)
      |  FROM documents
      |  WHERE ('0x' || substr(md5('k3|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |    % 5 <> 0
      |), rc AS (
      |  SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS r
      |  FROM ratings GROUP BY 1, 2
      |), m AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m FROM ratings GROUP BY 1
      |), o AS (
      |  SELECT a.cat AS c, b.cat AS k,
      |    CAST(SUM((2 * a.r * (b.r - CASE WHEN a.cat = b.cat THEN 1 ELSE 0 END))
      |      // (m.m - 1)) AS BIGINT) AS o2
      |  FROM rc a JOIN rc b ON b.doc_id = a.doc_id
      |  JOIN m ON m.doc_id = a.doc_id
      |  GROUP BY 1, 2
      |), marg AS (
      |  SELECT c, CAST(SUM(o2) AS BIGINT) AS nc FROM o GROUP BY 1
      |), sc AS (
      |  SELECT CAST(SUM(nc) AS BIGINT) AS sn,
      |    CAST(SUM(nc * nc) AS BIGINT) AS sn2
      |  FROM marg
      |), off AS (
      |  SELECT CAST(SUM(CASE WHEN c <> k THEN o2 ELSE 0 END) AS BIGINT)
      |    AS do_off
      |  FROM o
      |), un AS (
      |  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_units FROM ratings
      |)
      |SELECT c, k, o2, n_units, sn // 2 AS n_ratings,
      |  1.0 - CAST((sn - 2) * do_off AS DOUBLE) / (sn * sn - sn2)
      |    AS alpha
      |FROM o, sc, off, un""".stripMargin,
    "Krippendorff nominal alpha over 3 weak labelers with missing ratings") {
    (s, dir) =>
      val d = Tables(s, dir, "documents")
      val h = (p: String, c: Column) =>
        graft.ops.Text.baseHash(concat(lit(p), c))
      val ratings = d.select(col("doc_id"), (h("k1|", col("lang")) % 4).as("cat"))
        .unionAll(d.select(col("doc_id"), (h("k2|", col("source")) % 4).as("cat")))
        .unionAll(d
          .filter(h("k3|", col("doc_id").cast("string")) % 5 =!= 0)
          .select(col("doc_id"),
            least(lit(3L), expr("n_chars div 100")).as("cat")))
        .localCheckpoint() // four consumers below
      val rc = ratings.groupBy(col("doc_id"), col("cat"))
        .agg(count(lit(1)).cast("long").as("r"))
      // grouping keeps the source attribute id, so m's doc_id would be
      // ambiguous against the rc self-join's a/b sides — rename it
      val m = ratings.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("m"))
        .select(col("doc_id").as("m_doc"), col("m"))
      val o = rc.as("a")
        .join(rc.as("b"), col("a.doc_id") === col("b.doc_id"))
        .join(m, col("a.doc_id") === col("m_doc"))
        .select(col("a.cat").as("c"), col("b.cat").as("k"),
          expr("(2 * a.r * (b.r - if(a.cat = b.cat, 1, 0))) div (m - 1)")
            .as("contrib"))
        .groupBy(col("c"), col("k"))
        .agg(sum(col("contrib")).cast("long").as("o2"))
        .localCheckpoint() // matrix rows reused by marginals + off-diag
      val marg = o.groupBy(col("c")).agg(sum(col("o2")).cast("long").as("nc"))
      val scal = marg.agg(sum(col("nc")).cast("long").as("sn"),
        sum(col("nc") * col("nc")).cast("long").as("sn2"))
        .crossJoin(o.agg(sum(when(col("c") =!= col("k"), col("o2"))
          .otherwise(0L)).cast("long").as("do_off")))
        .crossJoin(ratings.agg(countDistinct(col("doc_id")).cast("long")
          .as("n_units")))
      o.crossJoin(broadcast(scal))
        .select(col("c"), col("k"), col("o2"), col("n_units"),
          expr("sn div 2").as("n_ratings"),
          (lit(1.0) - ((col("sn") - 2L) * col("do_off"))
            .cast("double") / (col("sn") * col("sn") - col("sn2")))
            .as("alpha"))
  }

  // ---------------------------------------------------------------- q287
  /** Difference-in-differences — the experiment family's PANEL axis:
    * q174/q225/q230/q271 all compare arms at one point in time; DiD is
    * what you run when treatment was NOT randomized (a staged rollout,
    * a policy change) and the arms differ at baseline — the pre-period
    * gap is subtracted out, so the estimate is the treated arm's
    * EXCESS change: (r_T,post − r_T,pre) − (r_C,post − r_C,pre), valid
    * under parallel trends. Arms by q271's user-parity convention;
    * periods split at the feed's exact midpoint microsecond (an
    * integer scalar both engines derive identically); the unit is the
    * (user, period) conversion flag, so a user active in both periods
    * contributes to both — the repeated-cross-section DiD form.
    *
    * Scale: one conditional partial agg to (user, period) cells, one
    * to the 4-cell frame; rates single divisions, the DiD one
    * fixed-parenthesization double tree broadcast back onto the
    * 4-row output. */
  val q287DiffInDiff: Q = Q.sql(
    "q287_diff_in_diff",
    """WITH cut AS (
      |  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS c
      |  FROM events
      |), u AS (
      |  SELECT user_id % 2 AS arm,
      |    CASE WHEN epoch_us(ts) >= (SELECT c FROM cut)
      |      THEN 1 ELSE 0 END AS period,
      |    user_id,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1, 2, 3
      |), cells AS (
      |  SELECT arm, period, CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(conv) AS BIGINT) AS n_conv
      |  FROM u GROUP BY 1, 2
      |), w AS (
      |  SELECT
      |    MAX(CASE WHEN arm = 1 AND period = 1
      |      THEN CAST(n_conv AS DOUBLE) / n_users END) AS rt1,
      |    MAX(CASE WHEN arm = 1 AND period = 0
      |      THEN CAST(n_conv AS DOUBLE) / n_users END) AS rt0,
      |    MAX(CASE WHEN arm = 0 AND period = 1
      |      THEN CAST(n_conv AS DOUBLE) / n_users END) AS rc1,
      |    MAX(CASE WHEN arm = 0 AND period = 0
      |      THEN CAST(n_conv AS DOUBLE) / n_users END) AS rc0
      |  FROM cells
      |)
      |SELECT CAST(arm AS BIGINT) AS arm, CAST(period AS BIGINT) AS period,
      |  n_users, n_conv, CAST(n_conv AS DOUBLE) / n_users AS rate,
      |  (rt1 - rt0) - (rc1 - rc0) AS did
      |FROM cells, w""".stripMargin,
    "difference-in-differences conversion readout over the midpoint split") {
    (s, dir) =>
      val ev = Tables(s, dir, "events")
      val cut = ev.agg(expr(
        "cast((min(unix_micros(ts)) + max(unix_micros(ts))) div 2 as bigint)")
        .as("c"))
      val u = ev.crossJoin(broadcast(cut))
        .select((col("user_id") % 2).as("arm"),
          when(unix_micros(col("ts")) >= col("c"), 1L).otherwise(0L)
            .as("period"),
          col("user_id"), col("event_type"))
        .groupBy(col("arm"), col("period"), col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
      val cells = u.groupBy(col("arm"), col("period"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(col("conv")).cast("long").as("n_conv"))
        .localCheckpoint() // consumed by the 4-cell frame AND the scalar
      val rate = (a: Int, p: Int) => max(when(
        col("arm") === a && col("period") === p,
        col("n_conv").cast("double") / col("n_users")))
      val w = cells.agg(rate(1, 1).as("rt1"), rate(1, 0).as("rt0"),
        rate(0, 1).as("rc1"), rate(0, 0).as("rc0"))
      cells.crossJoin(broadcast(w))
        .select(col("arm").cast("long").as("arm"),
          col("period").cast("long").as("period"),
          col("n_users"), col("n_conv"),
          (col("n_conv").cast("double") / col("n_users")).as("rate"),
          ((col("rt1") - col("rt0")) - (col("rc1") - col("rc0")))
            .as("did"))
  }

  val all: Seq[Q] = Seq(
    q01PricingSummary, q02FilterProject, q03RegionRevenue, q04AsOfAttribution,
    q05Sessionize, q06NextChain, q07RunningTotals, q08TopKPerGroup,
    q09SemiJoin, q10AntiJoin, q11BandJoin, q12SetOps, q13OuterCoalesce,
    q14ScalarKernel, q15JsonExtract, q16SortedCollect, q17MinMaxBy,
    q18ToleranceAsOf, q19TimeArithmetic, q34CubeRollup, q45SaltedAgg,
    q75Quantiles, q82SlidingWindow, q115FunnelSteps, q124Pivot, q126Unpivot,
    q129WindowKernel, q130GapFill, q131CohortRetention, q133AnomalyZscore,
    q137AsOfNearest, q139LongestStreak, q142MultiTouch, q143IntervalUnion,
    q147Profile, q152DecayAttribution, q153ZorderLayout, q156SessionFunnel,
    q157RiAudit, q160Winsorize, q161CdcApply, q162Scd2, q163DriftChisq,
    q165Autocorr, q168PitJoin, q169Transitions, q170IvmRefresh,
    q171HllPaneMerge, q173MadOutliers, q174AbTest, q175Twap, q176Gini,
    q177Copurchase, q178Skyline, q179TrendOls, q180SpatialJoin,
    q181PatternNegation, q182QuantileNorm, q187DyadicEwma, q189WilsonCi,
    q190CusumChangepoint, q192IvmJoin, q193PathMining, q196TargetEncoding,
    q198SeasonalBaseline, q199BenfordAudit, q204QuantileSketch,
    q210JoinEstimate, q212DelayQuantiles, q214IvmRetract, q215KsDrift,
    q216AucRanking, q218Calibration, q225Cuped, q226RfmSegments,
    q227DwellTime, q229SliceAudit, q230PostStratified,
    q233GrowthAccounting, q234GainsChart, q235SplitFinding, q236KaplanMeier, q237ZoneMapAudit, q240NaiveBayes, q241BootstrapCi, q242IsotonicPav, q243KAnonymity, q244SkewPlanner, q248AprioriTriples, q249SeqPatterns, q250ItemItemCf, q251PitExamples, q253CohenKappa, q254LatenessAudit, q257NeymanSample, q258IpsOffPolicy, q260AnonLadder, q261PermImportance, q262ExactMedian, q264UniverseSample, q266CramersV, q267LinearInterp, q268PrCurve, q271UpliftSegments,
    q278KrippendorffAlpha, q287DiffInDiff)
}
