"""General relational/analytic queries over the star schema — the engine's
bench workload beyond the reference's point-lookup surface.

Determinism convention (see ingest/oracle.py): money aggregates are integer
cents (``CAST(ROUND(100 * expr) AS BIGINT)``) so Spark and DuckDB agree
bit-for-bit; top-k queries always carry a unique tiebreak column.

Scale notes per query are inline; the common themes:
- aggregations rely on partial (map-side) aggregation — shuffle carries
  |groups| rows, not |input|;
- TINY dimension joins (region/nation/supplier/part) are force-broadcast;
  customer is SF-proportional, so it carries NO broadcast hint — AQE still
  broadcasts it while it fits the threshold, and the join degrades
  gracefully to shuffle at scale instead of OOMing every executor — no
  shuffle of the fact table;
- top-k is orderBy+limit => TakeOrderedAndProject (per-partition heap,
  driver merge), never a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .textstats import mean_millis_expr, permille_expr


def _ntz_epoch_ms(c: Column) -> Column:
    """Epoch-ms of a TIMESTAMP_NTZ wall-clock anchored EXPLICITLY to UTC —
    session-timezone independent. ``c.cast('timestamp')`` would interpret
    the wall-clock in the session zone: on a foreign driver session whose
    timeZone conf is pinned non-UTC (apply_runtime_confs is best-effort),
    every derived epoch would shift by the zone offset and diverge from
    the DuckDB oracle's epoch_ms. Same anchor as
    ``sources.tables.normalize_events``."""
    ts = F.make_timestamp(
        F.year(c), F.month(c), F.dayofmonth(c),
        F.hour(c), F.minute(c), F.second(c), F.lit("UTC"),
    )
    return F.unix_millis(ts)


def _cents(col) -> F.Column:
    return F.round(col * 100, 0).cast("long")


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan-heavy grouped aggregation.

    One wide scan -> partial agg -> 4-group shuffle. Filter and the 6-column
    projection push down to parquet."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round("l_quantity", 0).cast("long")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_price_cents"),
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_price_cents"
            ),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority top-k.

    customer auto-broadcasts while small (no hint — it grows with SF);
    orders⋈lineitem is the only shuffle;
    final top-10 is a TakeOrderedAndProject with unique (revenue, orderkey)
    tiebreak."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            ),
            _ntz_epoch_ms(F.max("o_orderdate")).alias("o_orderdate_ms"),
        )
        .orderBy(F.col("revenue_cents").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def late_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped existence check: orders with any lineitem shipped
    more than 60 days after the order date, counted by priority.

    The EXISTS is a left-semi join — Spark never materializes the matches,
    and the count shuffles |priorities| rows."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multiway join: local-supplier revenue per nation.

    Tiny dims force-broadcast, customer by AQE's threshold; the single big join chain
    lineitem⋈orders⋈(customer,supplier,nation) keeps the fact table
    shuffled at most once (on orderkey)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1998-01-01").cast("timestamp_ntz")
    return (
        li.join(
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            )
        )
        .orderBy(F.col("revenue_cents").desc(), F.col("n_name"))
    )


def region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue rolled up the full dimension chain region → nation →
    customer → orders → lineitem (the complete TPC-H Q5 geography).
    nation/region force-broadcast, customer by AQE's threshold; the fact chain shuffles once on
    orderkey; output is |region × nation| rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            ),
            F.count("*").alias("n_lines"),
        )
        .orderBy("region", "nation")
    )


def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue and volume per part brand/type — lineitem ⋈ broadcast(part);
    the fact table shuffles only for the final group-by."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            ),
            F.sum(F.round("l_quantity", 0).cast("long")).alias("sum_qty"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("p_brand", "p_type")
    )


def _part_breadth(spark: SparkSession, sf_dir: str, distinct_agg) -> DataFrame:
    """Shared body of the part-breadth twins — only the distinct
    aggregate differs (exact vs HLL), so the join shape and scale
    commentary exist once. orders is a FACT table: never force-broadcast
    it (the hint bypasses the size threshold and would ship the whole
    table to every executor at scale); the fact-fact orderkey join is
    the one honest shuffle, and a bucketed layout on orderkey collapses
    it to zero exchanges."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(distinct_agg, F.count("*").alias("n_lines"))
        .orderBy("o_orderpriority")
    )


def priority_part_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT part) per order priority — the distinct-agg
    shape (two-phase: dedup shuffle then count; at 100 TB swap in
    approx_count_distinct when a 2% error is acceptable)."""
    return _part_breadth(spark, sf_dir, F.countDistinct("l_partkey").alias("n_parts"))


def priority_part_breadth_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ variant of :func:`priority_part_breadth` — the 100 TB
    path when the exact distinct's dedup shuffle is unaffordable: sketches
    merge map-side, so the shuffle carries |groups| x sketch bytes instead
    of |distinct keys| rows. rsd=2%.

    Driver check is rows-only by design: HLL estimates are
    engine-specific, so there is no cross-engine value oracle — the
    exactness twin ``priority_part_breadth`` is the value-checked one, and
    ``tests/test_approx.py`` bounds this one's error against it."""
    return _part_breadth(
        spark, sf_dir,
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("n_parts_approx"),
    )


def top_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top purchasing users from the event stream (cents-exact)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(_cents(F.col("value"))).alias("spend_cents"),
            F.count("*").alias("n_purchases"),
        )
        .orderBy(F.col("spend_cents").desc(), F.col("user_id"))
        .limit(10)
    )


def top_orders_per_customer(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Per-group top-k: each customer's k most expensive orders, by window
    rank — the bounded-state alternative to a global sort.

    One shuffle (window partition by custkey); per-key state is a k-row
    heap, so the operator scales with |customers|, never |orders|. The
    (price, orderkey) tiebreak keeps ranks deterministic; rank cast to
    long to match DuckDB's BIGINT ROW_NUMBER."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("price_cents").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", _cents(F.col("o_totalprice")).alias("price_cents")
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("o_custkey", "rank")
    )


def order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (priority, status) — a §2.12
    explicit absence in the reference, present here as a first-class
    analytics extension. Physically one partial-aggregated shuffle: Spark
    expands the grouping sets map-side, so the shuffle carries
    |groups across all levels| rows, not |input| per level.

    Subtotal NULL markers are COALESCEd to 'ALL' so every output row is
    non-null (portable ordering + unambiguous to consumers)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "total_cents",
        )
        .orderBy("priority", "status")
    )


def _custkeys_in_year(orders: DataFrame, y: int) -> DataFrame:
    """Custkeys with an order in calendar year ``y`` (half-open interval)
    — the one definition behind the INTERSECT/EXCEPT/UNION trio, so the
    window predicate can never silently diverge between them."""
    return orders.filter(
        (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp_ntz"))
    ).select("o_custkey")


def repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers ordering in both 1996 and 1997 — set ops are
    a §2.12 absence; Spark plans ``intersect`` as a dedup aggregate +
    left-semi hash join (one shuffle keyed by custkey)."""
    orders = load_table(spark, sf_dir, "orders")
    year = lambda y: _custkeys_in_year(orders, y)  # noqa: E731

    return year(1996).intersect(year(1997)).orderBy("o_custkey")


def churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers ordering in 1996 but not 1997 —
    planned as a left-anti hash join after dedup."""
    orders = load_table(spark, sf_dir, "orders")
    year = lambda y: _custkeys_in_year(orders, y)  # noqa: E731

    return year(1996).subtract(year(1997)).orderBy("o_custkey")


def active_customers_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT: customers ordering in 1996 or 1997 — completes the
    set-op trio (INTERSECT/EXCEPT/UNION, all §2.12 absences in the
    reference). Spark plans union+distinct as concat → one hash-dedup
    shuffle keyed by custkey; both inputs are the same pruned 2-column
    scan, so at 100 TB this is a single pass over the date-pruned slice."""
    orders = load_table(spark, sf_dir, "orders")
    year = lambda y: _custkeys_in_year(orders, y)  # noqa: E731

    return year(1996).union(year(1997)).distinct().orderBy("o_custkey")


def nation_monthly_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative analytic frame (SUM ... ROWS UNBOUNDED PRECEDING) over a
    monthly per-nation rollup — window *frames* are a §2.12 absence; this is
    the running-balance shape every ledger consumer eventually asks for.

    Scale shape: two broadcast dimension joins (customer projected to 2
    columns, nation) so the orders fact never shuffles for the join; one
    partial-aggregated shuffle down to |nation × month| rows (~2k); the
    window then runs over the tiny aggregate, partitioned by nation — state
    per partition is one running long, never the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    from pyspark.sql.window import Window

    monthly = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("month_cents"))
    )
    w = (
        Window.partitionBy("nation")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "nation",
        "month",
        "month_cents",
        F.sum("month_cents").over(w).alias("cum_cents"),
    ).orderBy("nation", "month")


def above_average_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — orders above their customer's average
    order value. Subqueries are a §2.12 absence in the reference; the
    oracle keeps the correlated form, while the Spark plan is the
    decorrelated one: a single window pass per customer computes
    (n_orders, total_cents) and the comparison ``price > total/n`` is done
    integer-exact as ``price * n > total`` (no doubles, no division).

    Scale shape: one shuffle keyed by o_custkey; no join node and no
    re-scan of orders (a naive correlated plan re-scans per outer row).
    Per-customer window state is two longs."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        orders.select(
            "o_orderkey", "o_custkey", _cents(F.col("o_totalprice")).alias("o_cents")
        )
        .withColumn("n_orders", F.count("*").over(w))
        .withColumn("total_cents", F.sum("o_cents").over(w))
        .filter(F.col("o_cents") * F.col("n_orders") > F.col("total_cents"))
        .select("o_orderkey", "o_custkey", "o_cents")
        .orderBy("o_orderkey")
    )


def orders_by_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part rollup: order volume by ISO weekday (1 = Monday) — the
    calendar-function family (extract/date_part) as a first-class query.
    Spark's ``weekday`` is 0-based Monday; emitted +1 to match ISO
    numbering (DuckDB ``isodow``). One partial-aggregated shuffle of ≤7
    groups."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy((F.weekday("o_orderdate") + 1).cast("long").alias("iso_dow"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"),
        )
        .orderBy("iso_dow")
    )


WEEK_MS = 7 * 24 * 3600 * 1000


def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted as
    active per week offset — the table behind every retention curve.

    Scale shape: one aggregate finds each user's cohort week (|users|
    rows, co-partitioned with the second aggregate on user_id so the
    cohort join is shuffle-free under AQE); the final distinct-count
    shuffles (cohort, offset, user) triples, never raw events."""
    events = load_table(spark, sf_dir, "events")
    evt = events.select("user_id", F.expr(f"(ts DIV 1000000) DIV {WEEK_MS}").alias("week"))
    cohort = evt.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        evt.join(cohort, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: signup → first click after signup →
    first purchase after that click, counted per stage.

    Each stage is a groupBy over the previous stage's survivors joined
    back to the (type-filtered, pruned) event scan — the stage frames
    shrink monotonically, and every join key is user_id, so AQE reuses
    one co-partitioning down the funnel. Output is three rows."""
    events = load_table(spark, sf_dir, "events")
    evt = events.select(
        "user_id", "event_type", F.expr("ts DIV 1000000").alias("ts_ms")
    )
    signup = (
        evt.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("s_ms"))
    )
    click = (
        evt.filter(F.col("event_type") == "click")
        .join(signup, "user_id")
        .filter(F.col("ts_ms") > F.col("s_ms"))
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("c_ms"))
    )
    purchase = (
        evt.filter(F.col("event_type") == "purchase")
        .join(click, "user_id")
        .filter(F.col("ts_ms") > F.col("c_ms"))
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("p_ms"))
    )

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage("1_signup", signup)
        .unionByName(stage("2_click_after_signup", click))
        .unionByName(stage("3_purchase_after_click", purchase))
        .orderBy("stage")
    )


HOUR_MS = 3600 * 1000


def event_type_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup: 2-hour windows advancing hourly — each event
    lands in exactly two windows, expressed as a 2-element explode before
    the aggregation (the batch twin of a streaming sliding window; Spark's
    streaming `window(..., '2 hours', '1 hour')` compiles to the same
    explode-then-aggregate).

    Scale shape: the explode doubles rows *after* column pruning (3 narrow
    columns), and partial aggregation shrinks them to |windows × types|
    before the only shuffle."""
    events = load_table(spark, sf_dir, "events")
    h = F.expr(f"(ts DIV 1000000) DIV {HOUR_MS}")
    return (
        events.select(
            "event_type",
            "value",
            F.explode(F.array(h, h - 1)).alias("window_start_hour"),
        )
        .groupBy("event_type", "window_start_hour")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("value_cents"),
        )
        .orderBy("event_type", "window_start_hour")
    )


SESSION_GAP_MS = 30 * 60 * 1000


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) — the classic
    log-analytics window operator the reference lacks (SURVEY §2.12) but a
    training-data event pipeline needs.

    Two windows over the same (user_id, ts, event_id) ordering: lag to mark
    session starts, running sum to number them — one shuffle on user_id,
    both windows share the sort. Skewed power users are bounded because
    per-user state is a scalar, not a buffer."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    evt = events.select(
        "user_id", F.expr("ts DIV 1000000").alias("ts_ms"), "event_id"
    )
    order = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    is_new = F.when(
        F.lag("ts_ms").over(order).isNull()
        | ((F.col("ts_ms") - F.lag("ts_ms").over(order)) > SESSION_GAP_MS),
        1,
    ).otherwise(0)
    numbered = evt.withColumn("is_new", is_new).withColumn(
        "session_id",
        F.sum("is_new").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_ms").alias("start_ms"),
            F.max("ts_ms").alias("end_ms"),
        )
        .orderBy("user_id", "session_id")
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped outer-join distribution: how many customers placed
    exactly N (non-urgent) orders — the LEFT OUTER JOIN with an extra join
    predicate, counted twice (per customer, then per count).

    Scale shape: the outer join shuffles both sides on custkey (neither
    side is small — at 100 TB this is the one unavoidable co-partition);
    the second aggregate runs over |customers| rows pre-shrunk by the
    first, and the distribution itself is tiny. COUNT(o_orderkey) counts
    matched rows only, so no-order customers land in bucket 0."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_customer = (
        customer.join(
            orders.filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_customer.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("n_orders").desc())
    )


def part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier breadth: distinct suppliers per
    (brand, size) for small parts, excluding suppliers in deficit — the
    NOT IN shape (planned as a broadcast left-anti join; the exclusion
    list is tiny) feeding a COUNT(DISTINCT).

    Scale shape: part and the exclusion list broadcast, so lineitem never
    shuffles for either join; the distinct-agg is the only exchange
    (two-phase: dedup on (brand, size, suppkey), then count)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    supplier = load_table(spark, sf_dir, "supplier")
    in_deficit = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(
            F.broadcast(part.filter((F.col("p_size") <= 10) & (F.col("p_brand") != "Brand#13"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(in_deficit), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("p_brand", "p_size")
    )


def big_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume orders: the GROUP BY ... HAVING shape
    — orders whose total line quantity exceeds 250, joined back to the
    order/customer detail.

    Scale shape: the HAVING is a filter on a partially-aggregated
    |orderkeys|-row frame; the surviving keyset is tiny (p99 of quantity
    sums sits near 260), so it broadcasts into orders and the fact table
    never shuffles. Top-k output is TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round("l_quantity", 0).cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            _ntz_epoch_ms(F.col("o_orderdate")).alias("o_orderdate_ms"),
            _cents(F.col("o_totalprice")).alias("price_cents"),
            "sum_qty",
        )
        .orderBy(F.col("price_cents").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped fraction-of-average filter: revenue from lineitems
    whose quantity is below 20% of their part's average quantity. The
    correlated AVG subquery is decorrelated to one per-part aggregate
    joined back; the comparison ``qty < 0.2 * avg`` is kept integer-exact
    as ``qty * 5 * n < sum`` (no doubles, no division).

    Scale shape: the per-part aggregate is |parts| rows → broadcast, so
    lineitem is scanned twice but never shuffled; output is one row."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    per_part = li.groupBy("l_partkey").agg(
        F.count("*").alias("n_li"),
        F.sum(F.round("l_quantity", 0).cast("long")).alias("qsum"),
    ).withColumnRenamed("l_partkey", "pk")
    return (
        li.join(F.broadcast(per_part), F.col("l_partkey") == F.col("pk"))
        .filter(F.round("l_quantity", 0).cast("long") * 5 * F.col("n_li") < F.col("qsum"))
        .agg(
            F.sum(_cents(F.col("l_extendedprice"))).alias("revenue_cents"),
            F.count("*").alias("n_lines"),
        )
    )


def rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped anti-join + uncorrelated scalar subquery: customers
    with an above-average account balance and no orders since mid-2000. The
    global average is one aggregate row cross-joined in (broadcast by
    construction); ``bal > avg`` is integer-exact as ``bal * n > total``.

    Scale shape: the 1-row stats frame broadcasts; the anti-join's right
    side is the date-pruned distinct custkey set. Customer shuffles once
    (anti-join key) — at 100 TB both sides co-partition on custkey."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", _cents(F.col("c_acctbal")).alias("c_cents")
    )
    orders = load_table(spark, sf_dir, "orders")
    stats = customer.agg(
        F.count("*").alias("n_cust"), F.sum("c_cents").alias("total_cents")
    )
    recent = (
        orders.filter(F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp_ntz"))
        .select("o_custkey")
        .distinct()
    )
    return (
        customer.crossJoin(F.broadcast(stats))
        .filter(F.col("c_cents") * F.col("n_cust") > F.col("total_cents"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_cents")
        .orderBy("c_custkey")
    )


def order_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(priority, status) — all four grouping-set levels in one pass,
    completing the grouping-sets family next to ROLLUP
    (:func:`order_priority_rollup`). Same physical shape: map-side
    grouping-set expansion, one partial-aggregated shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "total_cents",
        )
        .orderBy("priority", "status")
    )


def priority_status_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((priority), (status)) — the two marginal
    rollups only, no grand total and no cross product. Spark expands the
    sets map-side like ROLLUP/CUBE: one shuffle carrying the union of
    both marginals' groups."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
               COALESCE(o_orderstatus, 'ALL') AS status,
               COUNT(*) AS n_orders,
               SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS total_cents
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        ORDER BY priority, status
        """
    )


def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD over each customer's order history: previous/next order
    timestamp and the inter-order gap — the navigation-function family
    (the sessionizer uses LAG internally; this exposes LEAD and the raw
    offsets as a first-class query).

    Scale shape: one shuffle (window partition by custkey); per-key window
    state is a single row lookback/lookahead, never a buffer."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("ts_ms", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            _ntz_epoch_ms(F.col("o_orderdate")).alias("ts_ms"),
        )
        .withColumn("prev_ms", F.lag("ts_ms").over(w))
        .withColumn("next_ms", F.lead("ts_ms").over(w))
        .withColumn("gap_ms", F.col("ts_ms") - F.col("prev_ms"))
        .orderBy("o_custkey", "ts_ms", "o_orderkey")
    )


def global_ranked(df: DataFrame, sort_cols: list, rank_col: str = "rn") -> DataFrame:
    """Distributed EXACT global row_number — the two-pass ranking that
    replaces a single-partition ``Window.orderBy``: range-repartition on
    the (total-ordered) sort key, rank locally inside each partition, add
    each partition's prefix offset. The only driver traffic is the P
    partition sizes (control plane); no partition ever holds more than its
    range share, so the sort parallelizes across the cluster.

    The prefix offsets are computed IN-PLAN (a cumulative window over the
    P-row partition-count frame, broadcast back on the partition id), not
    via a driver collect baked into literals: a collected offset map is a
    snapshot of one sampled range partitioning, and a result consumed
    later (e.g. after an interleaved second call) would re-sample
    different boundaries while keeping the stale literals — silently
    corrupt ranks. Both subtrees must also read ONE partitioning: the
    offsets subtree needs only the sort keys, so column pruning narrows
    its exchange below the row subtree's whenever the input carries any
    other column, the two exchanges are then not reused, and each
    samples its own boundaries (on a cluster the shuffle fetch order
    varies, so the two samples can differ). The range-partitioned input
    is therefore cut with ``localCheckpoint(eager=False)``: partitioned
    once at call time, materialized on the first action, and read by
    both subtrees — the result is deferred-safe."""
    from pyspark.sql.window import Window

    p = df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(p, *sort_cols).localCheckpoint(eager=False)
    with_pid = parted.withColumn("_pid", F.spark_partition_id())
    counts = with_pid.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    # P rows — the single-partition cumulative window is control-plane
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off")
    )
    wlocal = Window.partitionBy("_pid").orderBy(*sort_cols)
    return (
        with_pid.join(F.broadcast(offsets), "_pid")
        .withColumn(
            rank_col,
            (F.row_number().over(wlocal) + F.col("_off")).cast("long"),
        )
        .drop("_pid", "_off")
    )


def global_cumsum(
    df: DataFrame, sort_cols: list, value_col: str, out_col: str = "cum"
) -> DataFrame:
    """Distributed EXACT inclusive prefix sum over a total order — the
    SUM sibling of :func:`global_ranked`, same two-pass shape: range-
    repartition on the sort key, cumulative-sum locally inside each
    partition, add each partition's prefix-total offset (computed
    in-plan over the P-row totals frame and broadcast back — see
    global_ranked's docstring for why not driver literals). The sort
    key must be UNIQUE per row: with duplicate keys the per-row
    inclusive sum would depend on the arbitrary order among ties (a
    ROWS frame, which is what the local window uses — callers needing
    peer-inclusive semantics should pre-aggregate to distinct keys
    first, which also shrinks the frame). ``value_col`` must be
    NON-NULL: a NULL prefix yields cum = NULL rows, later NULLs fold
    to 0, and an all-NULL partition drops out of the offsets — three
    silently different treatments; coalesce to 0 (or filter) before
    calling. Like global_ranked, both subtrees read one
    localCheckpointed range partitioning."""
    from pyspark.sql.window import Window

    p = df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(p, *sort_cols).localCheckpoint(eager=False)
    with_pid = parted.withColumn("_pid", F.spark_partition_id())
    totals = with_pid.groupBy("_pid").agg(F.sum(value_col).alias("_tot"))
    # P rows — the single-partition cumulative window is control-plane
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid", F.coalesce(F.sum("_tot").over(woff), F.lit(0)).alias("_off")
    )
    wlocal = (
        Window.partitionBy("_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        with_pid.join(F.broadcast(offsets), "_pid")
        .withColumn(
            out_col,
            (F.sum(value_col).over(wlocal) + F.col("_off")).cast("long"),
        )
        .drop("_pid", "_off")
    )


def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(10) over per-customer total spend — the global-ranking shape,
    computed WITHOUT a single-partition window: :func:`global_ranked`
    range-partitions the |customers| aggregate, ranks locally, and adds
    prefix offsets; the decile is then pure arithmetic on the global rank
    using SQL NTILE's bucket-size rule (first ``n mod 10`` buckets get
    one extra row) — bit-identical to the window NTILE at any scale, with
    the sort parallelized instead of single-tasked."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("spend_cents")
    )
    ranked = global_ranked(
        spend, [F.col("spend_cents").desc(), F.col("o_custkey").asc()]
    )
    n = F.col("_n")
    q, r, rn = n / 10, n % 10, F.col("rn")
    q = F.floor(q)
    big = (q + 1) * r  # rows covered by the r larger (q+1)-sized buckets
    decile = (
        F.when(rn <= big, F.ceil(rn / (q + 1)))
        .otherwise(r + F.ceil((rn - big) / q))
        .cast("long")
    )
    # count over the RANKED frame, not over spend: ranked reads
    # global_ranked's localCheckpointed range-partitioned input, while
    # spend's lineage would re-scan and re-aggregate the orders fact
    total = ranked.agg(F.count("*").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .select("o_custkey", "spend_cents", decile.alias("decile"))
        .orderBy("o_custkey")
    )


#: Pivot columns for :func:`nation_segment_pivot` — pinned so the output
#: schema is static (Spark otherwise runs a distinct scan to discover them).
MKTSEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def nation_segment_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: customer counts per nation spread across market-segment
    columns. Values are pinned (``MKTSEGMENTS``) so the plan is a single
    pass — one partial-aggregated shuffle of |nations × segments| rows,
    exactly like a plain groupBy; missing cells coalesce to 0."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pivoted = (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .pivot("c_mktsegment", MKTSEGMENTS)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "n_name",
        *[
            F.coalesce(F.col(seg), F.lit(0)).cast("long").alias(f"seg_{seg.lower()}")
            for seg in MKTSEGMENTS
        ],
    ).orderBy("n_name")


def supplier_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ranking/analytic window functions in one pass:
    DENSE_RANK, PERCENT_RANK, CUME_DIST, FIRST/LAST/NTH_VALUE over
    suppliers ranked by balance within their nation.

    Fractional ranks are emitted per-mille (both engines compute the same
    IEEE division then the same half-away-from-zero round, so the BIGINT
    matches bit-for-bit). FIRST/LAST/NTH use the full-partition frame —
    the default RANGE..CURRENT ROW frame would make LAST_VALUE degenerate.

    Scale shape: one shuffle (window partition by nation); all six
    functions share the same sort order, so Spark evaluates them in a
    single Window operator."""
    from pyspark.sql.window import Window

    supplier = load_table(spark, sf_dir, "supplier")
    base = supplier.select(
        "s_nationkey", "s_suppkey", _cents(F.col("s_acctbal")).alias("bal_cents")
    )
    order = Window.partitionBy("s_nationkey").orderBy(
        F.col("bal_cents").desc(), F.col("s_suppkey").asc()
    )
    full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    permille = lambda c: F.round(c * 1000, 0).cast("long")
    return base.select(
        "s_nationkey",
        "s_suppkey",
        "bal_cents",
        F.dense_rank().over(order).cast("long").alias("drank"),
        permille(F.percent_rank().over(order)).alias("prank_permille"),
        permille(F.cume_dist().over(order)).alias("cume_permille"),
        F.first("s_suppkey").over(full).alias("richest"),
        F.last("s_suppkey").over(full).alias("poorest"),
        F.nth_value("s_suppkey", 2).over(full).alias("runner_up"),
    ).orderBy("s_nationkey", "drank", "s_suppkey")


#: Percentiles reported by :func:`doc_length_percentiles`, in per-mille.
PCTL_PERMILLE = (250, 500, 750, 900, 990)


def doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles of document length — the distribution
    profile every corpus intake runs first. The q-th percentile is the
    value at sorted position ``p = (n-1)*q DIV 1000 + 1`` (pure integer
    math, so Spark and DuckDB select the identical row; no interpolation,
    no doubles).

    Scale shape — the value-histogram trick, NO global row sort: the
    corpus collapses to (value, count) via one partial-aggregated groupBy
    (map-side combine: the shuffle carries |distinct lengths| rows, not
    |docs|), then a cumulative window runs over the tiny histogram. The
    selected value is the one whose cumulative range covers position p
    (``cum - cnt < p <= cum``) — identical to sorting all rows and
    indexing, at the cost of a histogram. The single-ordered window is
    over |distinct| rows (bounded: lengths, scores, token counts are
    low-cardinality), which is why this stays exact where the old
    row_number-over-everything shape single-tasked the corpus. For
    unbounded-cardinality metrics, `doc_length_percentiles_approx` is
    the sketch twin."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("n_chars")
    hist = docs.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    w = (
        Window.orderBy(F.col("n_chars").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).crossJoin(
        F.broadcast(docs.agg(F.count("*").alias("n")))
    )
    qs = F.explode(
        F.array(*[F.lit(q).cast("long") for q in PCTL_PERMILLE])
    ).alias("q_permille")
    pos = F.expr("(n - 1) * q_permille DIV 1000 + 1")
    return (
        cum.select("n_chars", "cnt", "cum", "n", qs)
        .filter((F.col("cum") >= pos) & (F.col("cum") - F.col("cnt") < pos))
        .select("q_permille", F.col("n_chars").alias("pctl_n_chars"))
        .orderBy("q_permille")
    )


def doc_length_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch twin of :func:`doc_length_percentiles`: ``approx_percentile``
    (t-digest-style summary, map-side mergeable) — the 100 TB path where
    the exact variant's global sort is unaffordable. Like the HLL twin
    (`priority_part_breadth_approx`), sketch outputs are engine-specific,
    so the driver records a rows-only check; `tests/test_approx.py` bounds
    the rank error against the exact twin."""
    docs = load_table(spark, sf_dir, "documents").select("n_chars")
    pct = docs.agg(
        F.percentile_approx(
            "n_chars", [q / 1000 for q in PCTL_PERMILLE], 10_000
        ).alias("p")
    )
    qs = F.array(*[F.lit(q).cast("long") for q in PCTL_PERMILLE])
    return pct.select(
        F.explode(F.arrays_zip(qs.alias("q_permille"), F.col("p").alias("pctl_n_chars"))).alias("z")
    ).select(
        F.col("z.q_permille").alias("q_permille"),
        F.col("z.pctl_n_chars").alias("pctl_n_chars"),
    )


def nation_pair_volume(
    spark: SparkSession,
    sf_dir: str,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7-shaped volume-shipping query: trade volume between two
    nations by (supplier nation, customer nation, ship year).

    Scale shape: the nation-pair filter is pushed INTO the supplier and
    customer dimensions before any fact-table join — supplier/customer
    shrink to 2/25ths and stay broadcast, so the only shuffle is
    lineitem⋈orders on orderkey; the OR over the two (supp, cust)
    orientations is a residual predicate on the already-joined row, not a
    join-order obstacle (cf. SURVEY §2.12: reference has no such query —
    training-pipeline extension surface)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nation = load_table(spark, sf_dir, "nation")
    pair = nation.filter(F.col("n_name").isin(nation_a, nation_b))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(pair), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(pair), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1998-01-01").cast("timestamp_ntz")
    return (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "volume_cents"
            )
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


def nation_market_share(
    spark: SparkSession,
    sf_dir: str,
    target_nation: str = "NATION_3",
    region: str = "EUROPE",
    part_type: str = "STANDARD",
) -> DataFrame:
    """TPC-H Q8-shaped market share: the target nation's per-mille share of
    regional order volume for one part type, per order year.

    The share is a conditional aggregation — ONE pass computes numerator
    (volume where supplier is the target nation) and denominator together;
    no self-join, no second scan. part/customer/nation/region/supplier all
    broadcast; lineitem⋈orders on orderkey is the lone shuffle. The
    per-mille is a rounded ratio of two exact integer-cents sums, so both
    engines agree bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == part_type)
    nation = load_table(spark, sf_dir, "nation")
    region_df = load_table(spark, sf_dir, "region").filter(F.col("r_name") == region)
    cust_nations = nation.join(
        F.broadcast(region_df), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1998-01-01").cast("timestamp_ntz")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    vol = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == target_nation, vol).otherwise(F.lit(0))
            ).alias("nation_cents"),
            F.sum(vol).alias("total_cents"),
        )
        .select(
            "o_year",
            "nation_cents",
            "total_cents",
            permille_expr("nation_cents", "total_cents").alias(
                "share_permille"
            ),
        )
        .orderBy("o_year")
    )


def promo_revenue_permille(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promotion share: per-mille of 1997 revenue from
    PROMO-type parts — a two-output conditional aggregation folding into a
    single row (no GROUP BY key at all: partial aggs collapse to one row
    per partition, then one tiny final reduce)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    lo = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.lit("1998-01-01").cast("timestamp_ntz")
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).alias(
                "promo_cents"
            ),
            F.sum(rev).alias("total_cents"),
        )
        .select(
            "promo_cents",
            "total_cents",
            permille_expr("promo_cents", "total_cents").alias(
                "promo_permille"
            ),
        )
    )


def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate join: revenue from lineitems
    matching any of three (brand, size-range, quantity-range) branches.

    The quantity bounds (the union hull 1..30) and the brand list are
    pushed down to the scans as sargable prefilters; the exact OR-of-ANDs
    is the join's residual predicate. At 100 TB the hull prefilter is what
    keeps the shuffle small — the residual only sees survivors."""
    branches = [
        ("Brand#11", 1, 15, 1, 11),
        ("Brand#12", 1, 25, 10, 20),
        ("Brand#13", 1, 35, 20, 30),
    ]
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin([b[0] for b in branches])
    )
    residual = None
    for brand, size_lo, size_hi, q_lo, q_hi in branches:
        clause = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(size_lo, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
        residual = clause if residual is None else (residual | clause)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(residual)
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            ),
            F.count("*").alias("qualifying_lines"),
        )
    )


def lone_late_supplier(spark: SparkSession, sf_dir: str, late_days: int = 60) -> DataFrame:
    """TPC-H Q21-shaped double-correlated existence: suppliers who were the
    ONLY late supplier on finished multi-supplier orders.

    Both correlated EXISTS checks are per-ORDER facts, so they fold into
    duplicate-insensitive min/max aggregates instead of pair-frame
    semi/anti self-joins (guide §2.3 "aggregate before you shuffle"):

    - NOT EXISTS (another LATE supplier on the order) ⟺ the order has
      exactly ONE distinct late supplier ⟺ min(late suppkey) ==
      max(late suppkey) per order — which also makes the former
      DISTINCT-pairs shuffle unnecessary (min/max ignore duplicates).
      The surviving (order, min-suppkey) row IS the lone late pair.
    - EXISTS (another supplier on the order) ⟺ the order has >= 2
      distinct suppliers overall ⟺ min(l_suppkey) != max(l_suppkey)
      over the order's lineitem rows.

    Both per-order facts come from ONE pass: lineitem LEFT-joins the
    status-F order dates (the join is an attach, so no lineitem row is
    lost), and a single groupBy(l_orderkey) computes min/max suppkey
    over all rows AND conditional min/max over the late rows (a row is
    late only when its order matched status F — o_orderdate NULL makes
    the lateness predicate NULL and the conditional min/max skip it,
    exactly the inner-join semantics). The old spelling scanned lineitem
    twice and shuffled the full (orderkey, suppkey) pair frame twice
    more (semi probe + anti probe); this one shuffles lineitem once into
    the join and the groupBy reuses that exchange. count(*) per supplier
    over the surviving one-row-per-order frame is exactly
    orders-kept-waiting per supplier, unchanged."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders_f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    is_late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {late_days} DAYS"
    )
    late_supp = F.when(is_late, F.col("l_suppkey"))
    lone = (
        li.join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .groupBy("l_orderkey")
        .agg(
            F.min(late_supp).alias("l_suppkey"),
            F.max(late_supp).alias("mx_late"),
            (F.min("l_suppkey") != F.max("l_suppkey")).alias("has_other"),
        )
        .filter(
            F.col("l_suppkey").isNotNull()
            & (F.col("l_suppkey") == F.col("mx_late"))
            & F.col("has_other")
        )
        .select("l_orderkey", "l_suppkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lone.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
    )


def event_type_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts per (event_type, hour bucket) — the tumbling-window
    rollup shape used by the streaming path, computed batch-side.
    Hour bucket = epoch-ms DIV 3600000 (integer, engine-portable)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_type",
            F.expr("(ts DIV 1000000) DIV 3600000").alias("hour_bucket"),
            "value",
        )
        .groupBy("event_type", "hour_bucket")
        .agg(F.count("*").alias("n_events"), F.sum(_cents(F.col("value"))).alias("value_cents"))
        .orderBy("event_type", "hour_bucket")
    )


def part_margin_by_nation(spark: SparkSession, sf_dir: str, name_like: str = "rod") -> DataFrame:
    """TPC-H Q9-shaped profit rollup: margin on parts whose name contains a
    token, by supplier nation and ship year.

    Margin = revenue cents - catalog cost cents (quantity x retail price);
    both are exact integer cents, so the engines agree bit-for-bit. The
    contains-filter pushes to the part scan as a StringContains predicate
    (asserted in test_pushdown) — at 100 TB this prunes the broadcast
    build side before it ever ships."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains(name_like)
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    "n_nationkey", F.col("n_name").alias("supp_nation")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    margin = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))) - _cents(
        F.col("l_quantity") * F.col("p_retailprice")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("supp_nation", F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(F.sum(margin).alias("margin_cents"))
        .orderBy("supp_nation", "ship_year")
    )


def peak_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped global-argmax selection: the supplier(s) whose
    1997H1 revenue equals the maximum over all suppliers.

    The scalar max is a 1-row aggregate broadcast back over the per-
    supplier rollup (never a single-task global window): one partial-agg
    shuffle on suppkey, one broadcast — ties all surface, deterministic
    order by suppkey."""
    li = load_table(spark, sf_dir, "lineitem")
    lo = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-07-01").cast("timestamp_ntz")
    by_supp = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_suppkey")
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "total_revenue_cents"
            )
        )
    )
    peak = by_supp.agg(F.max("total_revenue_cents").alias("peak_cents"))
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        by_supp.join(F.broadcast(peak), F.col("total_revenue_cents") == F.col("peak_cents"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_suppkey").alias("s_suppkey"), "s_name", "total_revenue_cents"
        )
        .orderBy("s_suppkey")
    )


def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped keyless filter-aggregate: revenue delta from dropping
    a discount band for small-quantity 1997 shipments.

    The cheapest possible query shape: scan -> map-side partial agg -> one
    1-row reduce. The shipdate range and quantity bound push to the parquet
    scan; the discount band is compared in integer per-cent
    (``round(discount*100)``) so both engines bucket identically instead of
    comparing raw doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    lo = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.lit("1998-01-01").cast("timestamp_ntz")
    disc_pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & (F.col("l_quantity") < 24)
            & disc_pct.between(5, 7)
        )
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"))).alias(
                "revenue_increase_cents"
            ),
            F.count("*").alias("n_lines"),
        )
    )


def returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: top-20 customers by revenue
    lost to returns in one quarter.

    orders is quarter-filtered before the fact join (partition-prunable at
    scale); customer+nation broadcast; final top-20 is a
    TakeOrderedAndProject with custkey tiebreak."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    lo = F.lit("1997-07-01").cast("timestamp_ntz")
    hi = F.lit("1997-10-01").cast("timestamp_ntz")
    cust_dim = customer.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        li.join(
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust_dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            ),
            F.max(_cents(F.col("c_acctbal"))).alias("acctbal_cents"),
        )
        .orderBy(F.col("revenue_cents").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def concentrated_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped concentration filter (adapted: no partsupp table, so
    "stock value" is lifetime revenue per part): parts whose revenue share
    exceeds 0.05% of the global total.

    The HAVING-against-a-global-scalar is a 1-row aggregate broadcast back
    over the per-part rollup (BroadcastNestedLoopJoin on a single row —
    constant cost), never a global window. The share test is exact integer
    math: ``revenue*10000 > 5*total``; at 100 TB the product approaches
    int64 range, so the scale dial is comparing per-mille shares instead."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue_cents"
        )
    )
    total = per_part.agg(F.sum("revenue_cents").alias("total_cents"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("revenue_cents") * 10000 > F.lit(5) * F.col("total_cents"))
        .select("l_partkey", "revenue_cents")
        .orderBy(F.col("revenue_cents").desc(), F.col("l_partkey").asc())
    )


def late_shipment_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped conditional split (adapted: no shipmode/receiptdate
    columns, so the grouping key is the returnflag and "late" means shipped
    more than 90 days after the order date): high- vs low-priority order
    counts among late shipments.

    One fact-fact join on orderkey (both sides co-hash, so a
    bucketed-by-orderkey layout collapses it to zero exchanges), then a
    single conditional-agg pass — never two filtered twin aggregates."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate", "l_returnflag")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str, size: int = 15) -> DataFrame:
    """TPC-H Q2-shaped per-group-min join-back (adapted: no partsupp table,
    so an "offer" is a lineitem's unit price from a EUROPE supplier): for
    each part of a given size, the European supplier(s) quoting the minimum
    unit price.

    The correlated MIN subquery decorrelates to a per-part aggregate joined
    back on equality — both sides of that join already hash on partkey, and
    the min side is |parts|-sized, so it broadcasts. part and the
    region-filtered supplier dim broadcast into the fact scan; unit price is
    rounded to integer cents with an identical expression tree in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == size)
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp_dim = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    unit_cents = F.round((F.col("l_extendedprice") / F.col("l_quantity")) * 100, 0).cast(
        "long"
    )
    offers = (
        li.join(F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "s_suppkey", "s_name", "n_name", unit_cents.alias("unit_cents"))
    )
    min_offer = offers.groupBy("p_partkey").agg(F.min("unit_cents").alias("min_cents"))
    return (
        offers.join(
            F.broadcast(min_offer.withColumnRenamed("p_partkey", "mp_partkey")),
            (F.col("p_partkey") == F.col("mp_partkey"))
            & (F.col("unit_cents") == F.col("min_cents")),
        )
        .select("p_partkey", "s_suppkey", "s_name", "n_name", "unit_cents")
        .distinct()
        .orderBy("p_partkey", "s_suppkey")
        .limit(100)
    )


def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped excess-share semi-join chain (adapted: no partsupp,
    so "excess availability" means a supplier shipped more than half of a
    part's total 1997 quantity): EUROPE suppliers who dominate at least one
    part.

    Two aggregation granularities over ONE shuffle lineage — the
    (part,supp) rollup re-aggregates to the part total without touching the
    fact again; the dominance test is exact integer math (``2*supp >
    total``); the winner pairs semi-join into the region-filtered supplier
    dimension, so supplier rows are never duplicated per part."""
    li = load_table(spark, sf_dir, "lineitem")
    lo = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.lit("1998-01-01").cast("timestamp_ntz")
    qty = F.round("l_quantity", 0).cast("long")
    per_pair = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(qty).alias("supp_qty"))
    )
    per_part = per_pair.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    dominant = (
        per_pair.join(
            F.broadcast(per_part.withColumnRenamed("l_partkey", "pp_partkey")),
            F.col("l_partkey") == F.col("pp_partkey"),
        )
        .filter(F.col("supp_qty") * 2 > F.col("part_qty"))
        .select("l_suppkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp_dim = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
                ).select("n_nationkey")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        supp_dim.join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .orderBy("s_suppkey")
    )


def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of the events stream: per column the
    row count, null count, distinct count, and min/max — the table stats
    a cost-based optimizer (and a pipeline health dashboard) feeds on.

    ONE scan: all per-column aggregates run in a single keyless agg row
    (count-distincts share one Expand), then unpivot driver-side via
    ``inline`` — the profile never re-reads the table per column. Values
    are emitted as strings of integers/cents so the schema is uniform
    across numeric and string columns and engine-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("ts DIV 1000000").alias("ts_ms"),
        "event_type",
        _cents(F.col("value")).alias("value_cents"),
    )
    cols = ["event_id", "user_id", "ts_ms", "event_type", "value_cents"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(F.col(c)).cast("string").alias(f"{c}__mn"),
            F.max(F.col(c)).cast("string").alias(f"{c}__mx"),
        ]
    row = ev.agg(F.count("*").alias("__n"), *aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"{c}__nn")).alias("n_nulls"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__mn").alias("min_val"),
                F.col(f"{c}__mx").alias("max_val"),
            )
            for c in cols
        ]
    )
    return row.select(F.inline(entries)).orderBy("col_name")


def events_column_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch twin of :func:`events_column_profile` — the 100 TB shape:
    ``approx_count_distinct`` (HLL++, map-side mergeable) replaces the
    exact count-distincts, which removes the 5-way Expand entirely (the
    single dominant cost of the exact profile: each input row is expanded
    once per distinct-aggregated column). Like the other sketch twins the
    estimates are engine-specific, so the driver records a rows-only
    check; `tests/test_approx.py` bounds the estimate error against the
    exact profile."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("ts DIV 1000000").alias("ts_ms"),
        "event_type",
        _cents(F.col("value")).alias("value_cents"),
    )
    cols = ["event_id", "user_id", "ts_ms", "event_type", "value_cents"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.approx_count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(F.col(c)).cast("string").alias(f"{c}__mn"),
            F.max(F.col(c)).cast("string").alias(f"{c}__mx"),
        ]
    row = ev.agg(F.count("*").alias("__n"), *aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"{c}__nn")).alias("n_nulls"),
                F.col(f"{c}__nd").alias("n_distinct_approx"),
                F.col(f"{c}__mn").alias("min_val"),
                F.col(f"{c}__mx").alias("max_val"),
            )
            for c in cols
        ]
    )
    return row.select(F.inline(entries)).orderBy("col_name")


def event_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring/alerting shape: each (event_type, hour) count compared
    to its trailing 24-hour average — the ratio (per-mille) an anomaly
    alert thresholds on.

    Two stages: the hourly rollup (partial agg, |types x hours| rows out)
    then one analytic window per event_type over the TINY rollup — the
    window never touches raw events, so at 100 TB it runs on thousands of
    rows regardless of input size. The first bucket of each type has no
    trailing history: ratio is NULL there (both engines agree).

    The trailing frame is a RANGE over hour_bucket (the literal last 24
    wall-clock hours), NOT a 24-ROW frame: with gap hours a row frame
    reaches arbitrarily far back, and — decisively — the streaming twin
    (`StreamingAnomaly`) can only express the time band, so the row form
    would silently diverge from it exactly when buckets are missing."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.select(
            "event_type", F.expr("(ts DIV 1000000) DIV 3600000").alias("hour_bucket")
        )
        .groupBy("event_type", "hour_bucket")
        .agg(F.count("*").alias("n_events"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_bucket")
        .rangeBetween(-24, -1)
    )
    # ratio vs the trailing AVG, kept integer-exact: avg = sum/cnt, so
    # round(1000*n/avg) = the shared formula over (n*cnt, sum); an empty
    # trailing window leaves sum NULL and the ratio NULL, as before
    return (
        hourly.withColumn("t_sum", F.sum("n_events").over(w))
        .withColumn("t_cnt", F.count("n_events").over(w))
        .select(
            "event_type",
            "hour_bucket",
            "n_events",
            # pre-widened factor: the n_events*t_cnt product must not
            # multiply in BIGINT (mean_millis_expr's caller contract)
            mean_millis_expr(
                "CAST(n_events AS DECIMAL(38,0)) * t_cnt", "t_sum"
            ).alias("ratio_permille"),
        )
        .orderBy("event_type", "hour_bucket")
    )


def nation_participation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation: per nation, customer count vs supplier
    count — nations present on either side survive (the join type the
    rest of the fleet never needed: audits do).

    Both inputs are |nations|-sized rollups, so the full-outer join is a
    broadcast-able reconciliation of two tiny aggregates — the fact
    tables are never outer-joined."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count("*").alias("n_customers"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    merged = cust.join(supp, F.col("ck") == F.col("sk"), "full_outer").select(
        F.coalesce(F.col("ck"), F.col("sk")).alias("nationkey"),
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
    )
    return (
        merged.join(F.broadcast(nation), F.col("nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            "n_customers",
            "n_suppliers",
            (F.col("n_customers") - F.col("n_suppliers")).alias("imbalance"),
        )
        .orderBy("n_name")
    )


def orders_trailing_month_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: for each order, how many orders the same
    customer placed in the trailing 30 days (inclusive) — the
    velocity/fraud-signal shape, and the RANGE-frame member of the window
    family (every other frame in the fleet is ROWS-based).

    One shuffle on custkey; the frame is evaluated over epoch-seconds so
    both engines share integer range arithmetic."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        _ntz_epoch_ms(F.col("o_orderdate")).alias("od_ms"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("od_ms")
        .rangeBetween(-30 * 86_400_000, 0)
    )
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            "od_ms",
            F.count("*").over(w).alias("n_trailing_month"),
        )
        .orderBy("o_orderkey")
    )


#: Dialect-neutral ANSI text shared verbatim by the Spark run and the
#: DuckDB oracle — the `spark.sql` front door, zero translation.
ANSI_SHARED_SQL = """
WITH pr AS (
  SELECT l_partkey,
    CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, revenue_cents
FROM pr
WHERE revenue_cents * 10000 > 5 * (SELECT SUM(revenue_cents) FROM pr)
ORDER BY revenue_cents DESC, l_partkey
"""


def ansi_sql_gateway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: registers the corpus as temp views and runs
    ``ANSI_SHARED_SQL`` through ``spark.sql`` — the IDENTICAL text the
    DuckDB oracle executes, zero dialect translation. Catalyst plans it
    exactly like the DataFrame build of the same query
    (`concentrated_part_revenue`), so a reference user can bring plain
    ANSI SQL instead of learning the DataFrame API."""
    from ..sources.tables import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(ANSI_SHARED_SQL)


#: Z-order layout dials: bits per dimension (the interleaved key is
#: 2*ZORDER_BITS wide) and shard count 2**ZORDER_SHARD_BITS.
ZORDER_BITS = 16
ZORDER_SHARD_BITS = 6


def zorder_bit_positions(bits: int = ZORDER_BITS) -> list:
    """The Morton interleave's single source of truth: (dim, src_bit,
    dst_bit) triples, dim in {'zx', 'zy'} — x on even positions, y on
    odd. Both the Spark expression (:func:`event_zorder_keys`) and the
    DuckDB oracle (registry._zorder_sql) render their dialect's
    shift-and-mask from THIS list, so a bit-layout edit cannot drift
    between engines."""
    out = []
    for i in range(bits):
        out.append(("zx", i, 2 * i))
        out.append(("zy", i, 2 * i + 1))
    return out


def _zorder_norm_expr(col: str, lo: str, hi: str, top: int) -> str:
    """Min-max normalize ``col`` to [0, top] with INTEGER arithmetic that
    cannot overflow int64: both the coordinate offset and the dimension
    span are computed in DECIMAL before the ``* top`` scale-up. With
    BIGINT arithmetic, any dimension span over 2**47 (hashed/snowflake
    64-bit ids — exactly the 100 TB id shape) overflows ``offset * 65535``
    and ANSI Spark raises; worse, ``hi - lo`` itself overflows when the
    ids straddle zero by more than 2**63. DECIMAL(30,0) holds the full
    2**64 span (20 digits) and the *65535 product (25 digits) exactly;
    ``DIV`` on decimals is Spark's integral divide and returns BIGINT.
    Operands are non-negative (col >= lo), so floor == truncate and the
    DuckDB oracle's HUGEINT ``//`` computes the identical value."""
    off = f"CAST(CAST({col} AS DECIMAL(38,0)) - {lo} AS DECIMAL(30,0))"
    span = f"CAST(CAST({hi} AS DECIMAL(38,0)) - {lo} AS DECIMAL(30,0))"
    return f"{off} * {top} DIV greatest(CAST(1 AS DECIMAL(30,0)), {span})"


def zorder_keyed_rows(
    df: DataFrame, xcol: str, ycol: str, bits: int = ZORDER_BITS
) -> DataFrame:
    """Full rows plus their Morton key ``z`` over ANY two integer
    columns — the row-preserving generalization of
    :func:`zorder_keys_frame`, and the kernel a layout REWRITE feeds
    (``compact_sink(..., zorder_by=...)`` re-clusters a folded sink with
    this; the original columns all ride along). Same overflow-proof
    DECIMAL min-max normalization (one broadcast 1-row aggregate), same
    single-sourced bit interleave."""
    clash = {"u0", "u1", "t0", "t1", "zx", "zy", "z"} & set(df.columns)
    if clash:
        raise ValueError(
            f"zorder_keyed_rows: frame already carries helper column(s) "
            f"{sorted(clash)} — rename them before keying"
        )
    mm = df.agg(
        F.min(xcol).alias("u0"),
        F.max(xcol).alias("u1"),
        F.min(ycol).alias("t0"),
        F.max(ycol).alias("t1"),
    )
    top = (1 << bits) - 1
    norm = (
        df.crossJoin(F.broadcast(mm))
        .withColumn("zx", F.expr(_zorder_norm_expr(xcol, "u0", "u1", top)))
        .withColumn("zy", F.expr(_zorder_norm_expr(ycol, "t0", "t1", top)))
        .drop("u0", "u1", "t0", "t1")
    )
    terms = [
        f"shiftleft(shiftright({d}, {i}) & 1, {p})"
        for d, i, p in zorder_bit_positions(bits)
    ]
    z = " + ".join(terms)  # disjoint bit positions: + is exact OR
    return norm.withColumn("z", F.expr(z).cast("long")).drop("zx", "zy")


def zorder_keys_frame(ev: DataFrame, bits: int = ZORDER_BITS) -> DataFrame:
    """The Morton-key kernel over any (user_id, ts_s) frame: min-max
    normalize each dimension to ``bits`` bits (overflow-proof DECIMAL
    arithmetic — see :func:`_zorder_norm_expr`), then bit-interleave.
    Split from :func:`event_zorder_keys` so the overflow-scale unit test
    can drive synthetic hub-scale id spans directly; the row-preserving
    generalization is :func:`zorder_keyed_rows` (one kernel, two
    projections)."""
    return zorder_keyed_rows(
        ev.select("user_id", "ts_s"), "user_id", "ts_s", bits
    ).select("user_id", "ts_s", "z")


def event_zorder_keys(
    spark: SparkSession, sf_dir: str, bits: int = ZORDER_BITS
) -> DataFrame:
    """(user_id, ts_s, z) for every event — the Morton key itself, the
    frame :func:`event_zorder_manifest` summarizes and the frame a
    layout rewrite feeds straight into ``repartitionByRange("z")`` +
    ``sortWithinPartitions("z")`` + write (exercised end-to-end against
    parquet footer min/max stats in ``tests/test_layout.py``)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts DIV 1000000000").alias("ts_s")
    )
    return zorder_keys_frame(ev, bits)


def event_zorder_manifest(
    spark: SparkSession,
    sf_dir: str,
    bits: int = ZORDER_BITS,
    shard_bits: int = ZORDER_SHARD_BITS,
) -> DataFrame:
    """Z-order (Morton-curve) storage-layout manifest over the events
    stream — the `OPTIMIZE ZORDER BY (user_id, ts)` step of a lakehouse
    table, computed as a query so the layout decision is verifiable: each
    event's (user_id, event-time-second) pair is min-max normalized to
    ``bits``-bit integers, bit-interleaved into a Morton key, and the key
    space split into 2**shard_bits equal shards. The manifest reports,
    per shard, how many rows/users land there and how tight the shard's
    user/time bounding box is — the point of multidimensional clustering:
    a reader filtering on EITHER user_id OR a time range prunes most
    shards, which neither a pure time-sort nor a pure user-sort gives.

    Everything is integer-exact (normalization is integer DIV; the
    interleave is an unrolled sum of disjoint single-bit terms), so the
    DuckDB oracle computes the identical key bit-for-bit. The dimension
    ranges come from ONE 1-row min/max aggregate broadcast back into the
    scan-side key expression; the manifest itself is one partial-agg
    groupBy on the shard id — two scans, no joins wider than the 1-row
    broadcast, nothing driver-side. At 100 TB the same expressions feed
    a ``repartitionByRange(z)``+write: the manifest and the layout are
    the same plan, which is why the op earns its place in the registry
    rather than living as a write-path flag."""
    keyed = event_zorder_keys(spark, sf_dir, bits)
    shard_div = 1 << (2 * bits - shard_bits)
    return (
        keyed.select(
            "user_id", "ts_s", F.expr(f"z DIV {shard_div}").cast("long").alias("shard")
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
            (F.max("user_id") - F.min("user_id")).cast("long").alias("user_span"),
            (F.max("ts_s") - F.min("ts_s")).cast("long").alias("ts_span_s"),
        )
        .orderBy("shard")
    )
