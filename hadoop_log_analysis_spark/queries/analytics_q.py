"""Log-analytics depth beyond the SURVEY.md §2 core: cohort
retention, time-series anomaly detection, Pareto heavy-hitter
accounting, and the TPC-H Q18 large-volume shape.

These are the report-style analyses a production log pipeline runs on
top of the relational core — each one composes operators the engine
already verifies (windows, grouped aggs, having-joins) into a
recognizable end-user workload, and each is fully DuckDB-oracled.

Shared scale posture: every query's shuffle volume is bounded by an
aggregate's OUTPUT cardinality (users, hours, qualifying orders),
never by raw event rows; the one global window (Pareto) runs over a
post-aggregate that is already heavy-hitter-sized.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_log_analysis_spark.functions import (
    dec_comoment,
    dec_var,
    dsum,
    dsum2,
    exact_avg,
    exact_comoment,
    exact_corr,
    exact_sum,
    money,
    money_sum,
    pin,
    subus_key,
    ts_us,
)
from hadoop_log_analysis_spark.queries import query
from hadoop_log_analysis_spark.operators.partitioning import maybe_broadcast
from hadoop_log_analysis_spark.operators.ranking import exact_rank
from hadoop_log_analysis_spark.scratch import run_dir
from hadoop_log_analysis_spark.sources.catalog import scan, table_bytes

# Warm-up for the anomaly baseline: a trailing mean/std over fewer
# than this many hours is too noisy to flag against.
ANOMALY_MIN_HOURS = 12
ANOMALY_Z = 2.0

# TPC-H Q18 threshold, scaled to the fixture's ~4 lineitems/order
# (classic spec value 300 keeps the result set selective but nonempty
# at sf0.01: ~2.9k of 15k orders qualify at >150; >300 keeps ~15).
LARGE_ORDER_QTY = 300


# Pearson r from exact sufficient statistics moved to the shared
# DECIMAL tier (functions.exact_corr) in r9: the int64 shape's
# n*S2 - S1^2 products overflow quadratically in group size.
_exact_corr = exact_corr


@query(
    "q_cohort_retention",
    oracle="""
        WITH a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
                   FROM events),
             f AS (SELECT user_id, min(d) AS cohort_d FROM a GROUP BY user_id)
        SELECT cohort_d,
               date_diff('day', cohort_d, d) AS offset_d,
               count(*) AS n_users
        FROM a JOIN f USING (user_id)
        GROUP BY cohort_d, offset_d
        ORDER BY cohort_d, offset_d
    """,
    tags=("A1", "W5", "F2", "retention"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users are cohorted by their first
    active day; each cell counts how many of a cohort's users were
    active again `offset_d` days later — the standard activation /
    retention report over an event log.

    Scale shape: map-side partial dedup collapses events to distinct
    (user, day) pairs BEFORE the first exchange, so every shuffle in
    the plan moves at most |users|x|days| two-column rows — never raw
    events; the final rollup is O(days²) cells.
    """
    active = (
        scan(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
    )
    with_cohort = active.withColumn(
        "cohort_d", F.min("d").over(Window.partitionBy("user_id"))
    )
    return (
        with_cohort.groupBy(
            "cohort_d", F.datediff("d", "cohort_d").alias("offset_d")
        )
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_d", "offset_d")
    )


@query(
    "q_hourly_anomaly",
    oracle=f"""
        WITH h AS (SELECT date_trunc('hour', ts) AS hr, count(*) AS n
                   FROM events WHERE event_type = 'error' GROUP BY hr),
             ms AS (SELECT hr, n,
                          sum(n) OVER win AS s1,
                          sum(n * n) OVER win AS s2,
                          count(*) OVER win AS m
                   FROM h
                   WINDOW win AS (ORDER BY hr
                                  ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
             w AS (SELECT hr, n, m AS n_hist,
                          s1 * 1.0 / m AS mu,
                          sqrt(CAST(m * s2 - s1 * s1 AS DOUBLE)
                               / (m * (m - 1.0))) AS sd
                   FROM ms WHERE m > 1)
        SELECT h.hr, h.n,
               CASE WHEN n_hist >= {ANOMALY_MIN_HOURS} AND sd > 1e-9
                    THEN floor(((h.n - mu) / sd) * 1000.0 + 0.5) / 1000.0
               END AS z,
               CASE WHEN n_hist >= {ANOMALY_MIN_HOURS} AND sd > 1e-9
                         AND (h.n - mu) / sd > {ANOMALY_Z}
                    THEN 1 ELSE 0 END AS is_burst
        FROM h LEFT JOIN w USING (hr)
        ORDER BY h.hr
    """,
    tags=("W4", "A5", "F2", "anomaly", "timeseries"),
)
def q_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-burst detection: each hour's error count is z-scored
    against the trailing 24 hours (excluding itself); |z| > 2 with at
    least 12 hours of history flags a burst — the alerting query a log
    pipeline runs continuously.

    Scale shape: the window runs over the HOURLY aggregate (720 rows
    at sf0.1), so the single-series ORDER BY is trivially cheap no
    matter the event volume; a fleet-scale variant partitions the same
    window by (service, host) and parallelizes per key.
    """
    hourly = (
        scan(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").alias("n"))
    )
    # trailing moments from exact integer window sums (engine windowed
    # stddev differs across engines — DuckDB evaluates window aggs on
    # a segment tree, Spark by running accumulation): with m history
    # hours, sd = sqrt((m*S2 - S1^2)/(m*(m-1))) over exact ints, so z
    # (the burst-threshold input AND an output) is one identical
    # double chain, floor-pinned at 3 dp.
    win = Window.orderBy("hr").rowsBetween(-24, -1)
    # window S1/S2 in the shared DECIMAL tier (r9): hourly counts scale
    # with volume, so squared sums outgrow int64 at large SF
    ms = hourly.select(
        "hr",
        "n",
        dsum(F.col("n")).over(win).alias("s1"),
        dsum2(F.col("n")).over(win).alias("s2"),
        F.count("*").over(win).alias("n_hist"),
    )
    mm = F.col("n_hist")
    # guard m <= 1 (empty/1-row history) — ANSI mode errors on the
    # division even for rows the filter would later drop
    mu = F.when(mm > 1, F.col("s1").cast("double") / mm)
    sd = F.when(
        mm > 1,
        F.sqrt(dec_var(mm, F.col("s2"), F.col("s1"))),
    )
    w = ms.select("hr", "n", "n_hist", mu.alias("mu"), sd.alias("sd"))
    ok = (
        (F.col("n_hist") >= ANOMALY_MIN_HOURS)
        & (F.col("n_hist") > 1)
        & (F.col("sd") > 1e-9)
    )
    zexpr = (F.col("n") - F.col("mu")) / F.col("sd")
    return w.select(
        "hr",
        "n",
        F.when(ok, pin(zexpr, 3)).alias("z"),
        F.when(ok & (zexpr > ANOMALY_Z), F.lit(1)).otherwise(F.lit(0)).alias(
            "is_burst"
        ),
    ).orderBy("hr")


@query(
    "q_pareto_users",
    oracle="""
        WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
             t AS (SELECT sum(n) AS tot FROM c),
             w AS (SELECT user_id, n,
                          sum(n) OVER (ORDER BY n DESC, user_id) AS cum
                   FROM c)
        SELECT user_id, n, CAST(cum * 10000 // tot AS BIGINT) AS cum_share_bp
        FROM w, t
        WHERE cum - n < 0.5 * tot
        ORDER BY n DESC, user_id
    """,
    tags=("W4", "A1", "O2", "heavy-hitters"),
)
def q_pareto_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto heavy-hitter set: the smallest prefix of users (by event
    count, deterministic tie-break) that accounts for 50% of all
    events — the "who is actually generating this log volume" report.
    Cumulative share is reported in integer basis points (floor) so
    the output is exactly reproducible across engines — round(x, 4)
    on a double sits on rounding boundaries (0.00465 rounds UP in
    Spark, half-even in DuckDB; observed at sf0.1).

    Scale shape (VERDICT r2 "Next round" #7): the passing set is a
    PREFIX of the (n desc, user_id) order and is closed under the
    count value — if any user with count n passes, every user with
    count > n passes. So a tiny per-n histogram (|distinct n| rows,
    bounded by max events/user) computes ``before(n)`` = events from
    all larger classes, and only classes with before < 50% of total
    ever reach the running-sum window. The global window therefore
    sorts |prefix + boundary tie class| rows, not |users| — at 10^8
    users with a Zipf head it sees only the heavy hitters. cum over
    the kept prefix equals the global cum exactly (integer counts), so
    the result is hash-identical to the naive plan.
    """
    from hadoop_log_analysis_spark.operators.prefix import prefix_weight_classes

    counts = (
        scan(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("tot"))
    keep = prefix_weight_classes(counts, "n", "n", 0.5)
    kept = counts.join(F.broadcast(keep), "n")
    win = Window.orderBy(F.desc("n"), "user_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        kept.withColumn("cum", F.sum("n").over(win))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cum") - F.col("n") < 0.5 * F.col("tot"))
        .select(
            "user_id",
            "n",
            F.floor(F.col("cum") * 10000 / F.col("tot")).alias("cum_share_bp"),
        )
        .orderBy(F.desc("n"), "user_id")
    )


@query(
    "q_funnel_steps",
    oracle="""
        WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns FROM events),
             s AS (SELECT user_id, min(tns) AS t1 FROM e
                   WHERE event_type = 'signup' GROUP BY user_id),
             v AS (SELECT e.user_id, min(tns) AS t2 FROM e JOIN s USING (user_id)
                   WHERE event_type = 'view' AND tns > t1 GROUP BY e.user_id),
             p AS (SELECT e.user_id, min(tns) AS t3 FROM e JOIN v USING (user_id)
                   WHERE event_type = 'purchase' AND tns > t2 GROUP BY e.user_id)
        SELECT '1_signup' AS step, count(*) AS n_users FROM s
        UNION ALL SELECT '2_view_after', count(*) FROM v
        UNION ALL SELECT '3_purchase_after', count(*) FROM p
        ORDER BY step
    """,
    tags=("J8", "A1", "funnel"),
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users who signed up, then viewed
    AFTER their first signup, then purchased AFTER that first
    qualifying view — strict temporal ordering, not mere co-occurrence.

    Cross-engine exactness: ordering compares ``ts_ns`` (raw bigint
    nanos, hash-identical to DuckDB's epoch_ns) so the ns->µs repair
    can never flip a strict inequality at a truncation boundary.

    Scale shape: each stage keys on user_id, so all three joins and
    aggregates co-partition on one key; stage inputs shrink
    monotonically (funnels only narrow).
    """
    ev = scan(spark, sf_dir, "events").select("user_id", "event_type", "ts_ns")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t1"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts_ns") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts_ns") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t3"))
    )

    def step(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(label).alias("step"), "n_users"
        )

    return (
        step(s, "1_signup")
        .unionByName(step(v, "2_view_after"))
        .unionByName(step(p, "3_purchase_after"))
        .orderBy("step")
    )


@query(
    "q_event_transitions",
    oracle="""
        WITH o AS (SELECT user_id, event_type, epoch_ns(ts) AS tns, event_id
                   FROM events),
             t AS (SELECT user_id, event_type,
                          lag(event_type) OVER (PARTITION BY user_id
                                                ORDER BY tns, event_id) AS prev_type
                   FROM o)
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM t WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
        ORDER BY prev_type, next_type
    """,
    tags=("W3", "A1", "funnel"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix of user behavior: counts of each
    (previous event type -> next event type) step in per-user
    ns-ordered event sequences — the input to any session-flow or
    next-action model.

    Scale shape: one shuffle on user_id for the lag window, then a
    25-cell (|types|²) aggregate; ordering uses exact bigint nanos +
    event_id tie-break, so both engines sequence identically.
    """
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    t = (
        scan(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts_ns", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
    )
    return (
        t.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
        .orderBy("prev_type", "next_type")
    )


@query(
    "q_rolling_active_users",
    oracle="""
        WITH a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
                   FROM events),
             days AS (SELECT DISTINCT d FROM a)
        SELECT days.d, count(DISTINCT a.user_id) AS wau
        FROM days JOIN a
          ON a.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
        GROUP BY days.d
        ORDER BY days.d
    """,
    tags=("J6", "A3", "timeseries"),
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling active users (WAU) per day — the engagement
    curve. Rolling DISTINCT cannot be a window frame (distinct does
    not decompose over frames), so the day spine range-joins the
    deduped (user, day) pairs and re-counts per anchor day.

    Scale shape: the spine is O(days) and broadcasts; the join fans
    each (user, day) pair out at most 7x, so work is bounded by
    7 * |distinct pairs| — independent of raw event volume. At larger
    windows, switch to HLL sketch unions per day (q_approx-family).
    """
    a = (
        scan(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
    )
    days = a.select("d").distinct().withColumnRenamed("d", "anchor")
    return (
        a.join(
            F.broadcast(days),
            F.col("d").between(
                F.col("anchor") - F.expr("INTERVAL 6 DAYS"), F.col("anchor")
            ),
        )
        .groupBy(F.col("anchor").alias("d"))
        .agg(F.countDistinct("user_id").alias("wau"))
        .orderBy("d")
    )


@query(
    "q_week_over_week",
    oracle="""
        WITH wk AS (SELECT date_trunc('week', ts) AS w, count(*) AS n
                    FROM events GROUP BY w)
        SELECT w, n,
               lag(n) OVER (ORDER BY w) AS prev_n,
               CAST((n - lag(n) OVER (ORDER BY w)) * 10000
                    // lag(n) OVER (ORDER BY w) AS BIGINT) AS delta_bp
        FROM wk
        ORDER BY w
    """,
    tags=("W3", "F2", "timeseries"),
)
def q_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week traffic delta in integer basis points
    (truncated toward zero — NB: DuckDB's ``//`` truncates on
    negatives where Spark's ``floor`` floors, so the Spark side uses
    a long cast, which truncates identically) — the trend line on
    every log dashboard, reproducible because the growth ratio never
    leaves integer arithmetic.

    Scale shape: lag runs over the WEEKLY aggregate (a few hundred
    rows at any corpus size); the corpus-sized work is one partial
    count.
    """
    wk = (
        scan(spark, sf_dir, "events")
        .groupBy(F.date_trunc("week", "ts").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    prev = F.lag("n").over(Window.orderBy("w"))
    return wk.select(
        "w",
        "n",
        prev.alias("prev_n"),
        ((F.col("n") - prev) * 10000 / prev).cast("long").alias("delta_bp"),
    ).orderBy("w")


@query(
    "q_late_orders_by_priority",
    oracle="""
        SELECT o_orderpriority, count(*) AS n
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 75 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("J4", "A1", "subquery"),
)
def q_late_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders placed in a quarter with at least one
    line item shipped >75 days after ordering, counted by priority —
    a correlated EXISTS whose predicate compares columns across BOTH
    tables (decorrelation stress test).

    Scale shape: Catalyst rewrites the EXISTS to a left-semi join on
    orderkey; the cross-table date predicate rides the join condition,
    and the quarter filter pushes into the orders scan.
    """
    orders = scan(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = scan(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (li["l_orderkey"] == orders["o_orderkey"]) & (
        li["l_shipdate"] > orders["o_orderdate"] + F.expr("INTERVAL 75 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderpriority")
    )


@query(
    "q_argmax_users",
    oracle="""
        WITH c AS (SELECT event_type, user_id, count(*) AS n
                   FROM events GROUP BY event_type, user_id)
        SELECT event_type,
               max_by(user_id, n * 1000000 + user_id) AS top_user,
               max(n) AS top_n,
               min_by(user_id, n * 1000000 + user_id) AS bottom_user,
               min(n) AS bottom_n
        FROM c
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("F8", "A1", "argmax"),
)
def q_argmax_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type argmax/argmin via max_by/min_by: the most- and
    least-active user for each event type, in ONE aggregate pass (no
    window + filter round trip).

    Determinism: max_by/min_by tie-breaking is engine-defined, so the
    ordering key packs the tie-break into the value itself
    (n * 1e6 + user_id is injective for user_id < 1e6).

    Scale shape: two chained hash aggregates, both with partial
    (map-side) combine; output is |types| rows.
    """
    c = (
        scan(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
    )
    ordkey = F.col("n") * 1000000 + F.col("user_id")
    return (
        c.groupBy("event_type")
        .agg(
            F.expr("max_by(user_id, n * 1000000 + user_id)").alias("top_user"),
            F.max("n").alias("top_n"),
            F.expr("min_by(user_id, n * 1000000 + user_id)").alias(
                "bottom_user"
            ),
            F.min("n").alias("bottom_n"),
        )
        .orderBy("event_type")
    )


@query(
    "q_large_orders",
    oracle=f"""
        WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
                     FROM lineitem GROUP BY l_orderkey
                     HAVING sum(l_quantity) > {LARGE_ORDER_QTY})
        SELECT c_name, o_orderkey,
               date_trunc('day', o_orderdate) AS odate,
               round(o_totalprice, 2) AS price, total_qty
        FROM big
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY price DESC, o_orderkey
        LIMIT 100
    """,
    tags=("A8", "J2", "J1", "O2"),
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind the largest-volume orders —
    a HAVING-filtered aggregate joined back to its dimensions, top-100
    by order value.

    Scale shape: the HAVING cut makes the aggregated key set selective
    (~0.1% of orders at the spec threshold), so Spark/AQE broadcasts
    it onto orders rather than shuffling the fact twice; customer
    attaches the same way; the top-100 is TakeOrderedAndProject.
    """
    big = (
        scan(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty_raw"))
        .filter(F.col("qty_raw") > LARGE_ORDER_QTY)
        .select("l_orderkey", F.round("qty_raw", 2).alias("total_qty"))
    )
    orders = scan(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = scan(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(
            maybe_broadcast(cust, table_bytes(sf_dir, "customer")),
            orders["o_custkey"] == cust["c_custkey"],
        )
        .select(
            "c_name",
            "o_orderkey",
            F.date_trunc("day", "o_orderdate").alias("odate"),
            F.round("o_totalprice", 2).alias("price"),
            "total_qty",
        )
        .orderBy(F.desc("price"), "o_orderkey")
        .limit(100)
    )


@query(
    "q_hierarchical_rollup",
    oracle="""
        SELECT date_trunc('week', ts) AS w, event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM events
        GROUP BY w, event_type
        ORDER BY w, event_type
    """,
    tags=("A1", "F2", "S6", "timeseries", "rollup"),
)
def q_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (continuous-aggregate) rollup: the HOURLY rollup
    is materialized once to parquet, and the weekly report is derived
    by RE-AGGREGATING the hourly table — counts sum, sums sum — so
    raw events are scanned exactly once no matter how many
    granularities are served. Verified against a direct weekly
    aggregate of the raw table (the two must agree exactly).

    This is the hypertable/continuous-aggregate pattern: at 100 TB
    the hourly layer is ~10^5x smaller than raw events, so
    day/week/month views cost MBs, not a rescan; incremental refresh
    = dynamic partition overwrite of touched hours
    (q_incremental_overwrite is the template).
    """
    hourly_path = run_dir(spark, "rollup_hourly", sf_dir)
    hourly = (
        scan(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("h"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.sum(money("value")).alias("sum_value"))
    )
    hourly.write.mode("overwrite").parquet(hourly_path)
    materialized = spark.read.parquet(hourly_path)
    return (
        materialized.groupBy(
            F.date_trunc("week", "h").alias("w"), "event_type"
        )
        .agg(
            F.sum("n").alias("n"),
            # re-aggregating exact DECIMAL hourly sums equals the
            # direct weekly decimal sum EXACTLY (decimal addition is
            # associative; double re-sums were not)
            F.sum("sum_value").cast("double").alias("total"),
        )
        .orderBy("w", "event_type")
    )


@query(
    "q_user_segments",
    oracle="""
        WITH u AS (SELECT user_id, count(*) AS n_events,
                          sum(CASE WHEN event_type = 'purchase'
                                   THEN CAST(value AS DECIMAL(18,2))
                                   ELSE 0 END) AS spend
                   FROM events GROUP BY user_id),
             b AS (SELECT user_id, n_events, spend,
                          ntile(4) OVER (ORDER BY n_events DESC, user_id)
                            AS quartile
                   FROM u)
        SELECT quartile, count(*) AS n_users,
               CAST(sum(n_events) AS BIGINT) AS events,
               CAST(sum(spend) AS DOUBLE) AS total_spend
        FROM b
        GROUP BY quartile
        ORDER BY quartile
    """,
    tags=("W1", "A1", "segmentation"),
)
def q_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User segmentation: activity quartiles via ntile over the
    per-user aggregate (ordered by integer event count + id, so the
    tiling is exactly reproducible across engines), rolled up to
    users / events / purchase spend per quartile — the
    engagement-tiers report.

    Scale shape (VERDICT r2 "Next round" #7): the former global
    ``ntile(4)`` window single-partitioned all |users| rows. Replaced
    by an exact two-phase rank — rank(u) = offset(n_events) +
    rank-within-tie-class — where ``offset`` comes from a tiny per-n
    histogram cumsum (|distinct n| rows) broadcast back, and the
    within-class row_number partitions by n_events (parallel across
    |distinct n| classes; residual bound = the largest tie class, and
    the class sort key is just user_id). ntile's assignment is then
    the closed-form prefix formula on (rank, N): sizes are N div 4
    (+1 for the first N mod 4 tiles), so the output is hash-identical
    to the window plan. Integer ordering keys dodge the float-round
    tiling hazard.
    """
    u = (
        scan(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            # exact DECIMAL per-user spend, kept decimal through the
            # tiling so the per-quartile total sums exactly
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", money("value")
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).alias("spend"),
        )
    )
    ranked = exact_rank(u, "n_events", "user_id", ascending=False)
    n_total = u.agg(F.count("*").alias("N"))
    b = ranked.crossJoin(F.broadcast(n_total)).withColumn(
        "quartile",
        F.when(
            F.col("rank") <= (F.col("N") % 4) * (F.floor(F.col("N") / 4) + 1),
            F.ceil(F.col("rank") / (F.floor(F.col("N") / 4) + 1)),
        ).otherwise(
            (F.col("N") % 4)
            + F.ceil(
                (F.col("rank") - (F.col("N") % 4) * (F.floor(F.col("N") / 4) + 1))
                / F.floor(F.col("N") / 4)
            )
        ).cast("int"),
    )
    return (
        b.groupBy("quartile")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("n_events").alias("events"),
            F.sum("spend").cast("double").alias("total_spend"),
        )
        .orderBy("quartile")
    )


@query(
    "q_top_tokens_per_lang",
    oracle="""
        WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
                   FROM documents),
             c AS (SELECT lang, tok, count(*) AS n FROM t GROUP BY lang, tok),
             r AS (SELECT lang, tok, n,
                          row_number() OVER (PARTITION BY lang
                                             ORDER BY n DESC, tok) AS rn
                   FROM c)
        SELECT lang, tok, n, rn
        FROM r WHERE rn <= 5
        ORDER BY lang, rn
    """,
    tags=("W2", "L5", "A1"),
)
def q_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 tokens: the W2 per-group top-k pattern
    applied to text statistics (vocabulary head per language) — the
    corpus-drift dashboard a multilingual pipeline watches.

    Scale shape: explode collapses into a (lang, tok) partial-agg
    before shuffling (vocabulary-sized), and the ranking window
    partitions by lang — no global sort anywhere.
    """
    c = (
        scan(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "tok")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .orderBy("lang", "rn")
    )


@query(
    "q_dormant_users",
    oracle="""
        WITH mx AS (SELECT user_id, max(epoch_ns(ts)) AS last_ns,
                           count(*) AS n_events
                    FROM events GROUP BY user_id),
             c AS (SELECT max(last_ns) AS corpus_end FROM mx)
        SELECT user_id, n_events
        FROM mx, c
        WHERE last_ns < corpus_end - CAST(43200 AS BIGINT) * 1000000000
        ORDER BY user_id
    """,
    tags=("A1", "J1", "churn"),
)
def q_dormant_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn candidates: users whose LAST event predates the corpus
    end by more than 12 hours — the dormant-user list a
    re-engagement pipeline consumes (threshold sized to the fixtures'
    one-month uniform span; a production corpus uses 7-30 days — only
    the constant changes). Time arithmetic stays in exact bigint nanos
    on both engines (no timestamp rounding at the cutoff boundary).

    Scale shape: per-user max/count is one partial-agg pass; the
    corpus end is a 1-row broadcast; the dormancy cut is a map-side
    filter on the aggregate.
    """
    mx = (
        scan(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("ts_ns").alias("last_ns"), F.count("*").alias("n_events"))
    )
    end = mx.agg(F.max("last_ns").alias("corpus_end"))
    dormancy_ns = 43200 * 1_000_000_000
    return (
        mx.crossJoin(F.broadcast(end))
        .filter(F.col("last_ns") < F.col("corpus_end") - dormancy_ns)
        .select("user_id", "n_events")
        .orderBy("user_id")
    )


@query(
    "q_orders_per_customer_dist",
    oracle="""
        WITH pc AS (SELECT c_custkey, count(o_orderkey) AS n
                    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
                    GROUP BY c_custkey)
        SELECT n AS n_orders, count(*) AS n_customers
        FROM pc
        GROUP BY n_orders
        ORDER BY n_orders
    """,
    tags=("J3", "A1", "histogram"),
)
def q_orders_per_customer_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement distribution INCLUDING the zeros: histogram of
    orders per customer where never-ordered customers count in the
    n_orders=0 bucket (the left join + count(key) idiom — an inner
    join would silently drop exactly the customers a lifecycle team
    cares about).

    Scale shape: two chained aggregates; the first shuffles on
    custkey (or is shuffle-free if orders are bucketed on o_custkey),
    the second on the tiny histogram domain.
    """
    cust = scan(spark, sf_dir, "customer").select("c_custkey")
    orders = scan(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    pc = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n"))
    )
    return (
        pc.groupBy(F.col("n").alias("n_orders"))
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_orders")
    )


@query(
    "q_value_by_daypart",
    oracle="""
        SELECT extract(hour FROM ts) AS hod, event_type,
               count(*) AS n,
               CAST(round(CAST(sum(CAST(value AS DECIMAL(18,2))) * 100
                               AS DOUBLE) / count(*)) AS BIGINT)
                 AS avg_cents
        FROM events
        GROUP BY hod, event_type
        ORDER BY hod, event_type
    """,
    tags=("F2", "A1", "timeseries"),
)
def q_value_by_daypart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality: traffic and mean value per (hour 0-23,
    event type) — the daily-rhythm heatmap behind capacity planning
    and anomaly baselines (q_hourly_anomaly's trailing window assumes
    this rhythm is stable).

    Scale shape: a 120-cell aggregate (24 x |types|) with map-side
    partial combine — shuffle volume is the output grid, not events.
    """
    return (
        scan(spark, sf_dir, "events")
        .groupBy(F.hour("ts").alias("hod"), "event_type")
        .agg(
            F.count("*").alias("n"),
            # Mean in INTEGER CENTS — the only formulation both engines
            # round identically (r6 sf0.001 sweep finding). A rounded
            # avg() can land on a round-half boundary (sf0.001's
            # (13, signup) cell is EXACTLY 438.23/8 = 54.77875), and
            # the engines then disagree BY DESIGN: Spark's round()
            # rounds the shortest decimal PRINT of the double
            # (68.92875 -> up) while DuckDB rounds the binary value
            # (68.9287499... -> down). With an exact integer cent sum
            # (accumulation noise ~1e-12 << 0.5 cents) divided by n,
            # any half-tie is exactly representable (0.5 is a power of
            # two and IEEE division is correctly rounded), and both
            # engines round exact halves away from zero — so the
            # rounded quotient is engine-identical.
            F.round(
                (F.sum(money("value")) * 100).cast("double")
                / F.count("*"),
                0,
            )
            .cast("long")
            .alias("avg_cents"),
        )
        .orderBy("hod", "event_type")
    )


@query(
    "q_median_event_gap",
    oracle="""
        WITH o AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, event_id
                   FROM events),
             g AS (SELECT tus - lag(tus) OVER (PARTITION BY user_id
                                               ORDER BY tus, event_id) AS gap
                   FROM o)
        SELECT round(quantile_cont(gap, 0.5) / 1e6, 1) AS median_gap_s,
               CAST(count(*) AS BIGINT) AS n_gaps
        FROM g WHERE gap IS NOT NULL
    """,
    tags=("W3", "A5", "timeseries"),
)
def q_median_event_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median inter-event gap across all users (lag over per-user
    ns-exact µs sequences, then an exact interpolated percentile) —
    the base rate behind the 30-minute sessionization gap threshold
    (q_sessionize): the threshold should sit far above this median.

    Scale shape: one shuffle on user_id for the lag; the percentile
    runs over integer gaps. At 100 TB switch the exact percentile to
    approx_percentile (t-digest) — the global exact sort of gaps is
    the one non-scalable step here.
    """
    from hadoop_log_analysis_spark.functions import ts_us

    o = scan(spark, sf_dir, "events").select(
        "user_id", ts_us().alias("tus"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    g = o.select((F.col("tus") - F.lag("tus").over(w)).alias("gap")).filter(
        F.col("gap").isNotNull()
    )
    return g.agg(
        F.round(F.expr("percentile(gap, 0.5)") / 1e6, 1).alias("median_gap_s"),
        F.count("*").alias("n_gaps"),
    )


@query(
    "q_longest_streak",
    oracle="""
        WITH a AS (SELECT DISTINCT user_id,
                          CAST(date_trunc('day', ts) AS DATE) AS d
                   FROM events),
             g AS (SELECT user_id, d,
                          d - CAST(row_number() OVER (PARTITION BY user_id
                                                      ORDER BY d) AS INTEGER)
                            AS grp
                   FROM a),
             s AS (SELECT user_id, grp, count(*) AS streak
                   FROM g GROUP BY user_id, grp)
        SELECT user_id, CAST(max(streak) AS BIGINT) AS longest_streak
        FROM s
        GROUP BY user_id
        ORDER BY user_id
    """,
    tags=("W1", "W4", "timeseries"),
)
def q_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands shape (engagement/retention reporting): on a
    dense run of active days, ``day - row_number`` is constant, so
    grouping by that difference isolates each island and its size is
    the streak length.

    Scale shape: input is the deduped (user, day) pair set (bounded by
    users x days, far below raw event volume); the one window is
    partitioned per user over at most |days| rows — parallel by key,
    no global sort, then two bounded hash aggs. No part of the plan
    sees raw-event cardinality after the initial distinct.
    """
    a = (
        scan(spark, sf_dir, "events")
        .select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    g = a.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    s = g.groupBy("user_id", "grp").agg(F.count("*").alias("streak"))
    return (
        s.groupBy("user_id")
        .agg(F.max("streak").alias("longest_streak"))
        .orderBy("user_id")
    )


@query(
    "q_incremental_rollup",
    oracle="""
        SELECT date_trunc('day', ts) AS d, event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM events
        GROUP BY d, event_type
        ORDER BY d, event_type
    """,
    tags=("A1", "rollup", "cdc", "timeseries"),
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: the daily rollup is maintained
    by MERGING a late-arrivals delta into the previously materialized
    aggregate — base rollup (events before the cutover day) full-outer
    merged with the delta batch's rollup, counts and sums added with
    null-as-zero — instead of rescanning history. Verified against the
    direct aggregate of the full table: the merge must be exact.

    Here the split is simulated by a 80/20 ts cutover on the fixture
    (the last ~20% of days play the late-delta batch); in production
    the delta is the CDC/new-files batch and the base is the stored
    rollup. At 100 TB this is the difference between an O(delta)
    refresh and an O(history) rescan; only touched (day, type) rows
    shuffle, and the merge joins two aggregate-sized tables, never raw
    events. Complements q_hierarchical_rollup (re-aggregation across
    granularities) and q_merge_upsert (row-level CDC).
    """
    ev = scan(spark, sf_dir, "events").select("ts", "event_type", "value")
    # cutover literal computed driver-side (one bounded 1-row action):
    # 80% of the fixture's time span.
    lo, hi = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    if lo is None:  # empty input: no cutover, merge of two empty rollups
        import datetime as _dt

        lo = hi = _dt.datetime(1970, 1, 1)
    cutover = lo + (hi - lo) * 4 / 5

    def rollup(df):
        return df.groupBy(
            F.date_trunc("day", "ts").alias("d"), "event_type"
        ).agg(F.count("*").alias("n"), F.sum(money("value")).alias("s"))

    base = rollup(ev.filter(F.col("ts") < F.lit(cutover)))
    delta = rollup(ev.filter(F.col("ts") >= F.lit(cutover)))
    merged = (
        base.alias("b")
        .join(
            delta.alias("x"),
            ["d", "event_type"],
            "full_outer",
        )
        .select(
            "d",
            "event_type",
            (
                F.coalesce(F.col("b.n"), F.lit(0))
                + F.coalesce(F.col("x.n"), F.lit(0))
            ).alias("n"),
            (
                F.coalesce(F.col("b.s"), F.lit(0).cast("decimal(28,2)"))
                + F.coalesce(F.col("x.s"), F.lit(0).cast("decimal(28,2)"))
            )
            .cast("double")
            .alias("total"),
        )
    )
    return merged.orderBy("d", "event_type")


# --- round-4 time-series / robust-statistics additions ---------------

EWMA_DECAY = 0.7  # per-day retention; alpha = 1 - EWMA_DECAY
EWMA_SPAN_DAYS = 9  # trailing window (plus the current day)

# Exact integer weight table: w6[k] = floor(0.7^k * 1e6 + 1/2) computed
# in EXACT rational arithmetic (7^k / 10^k via Fraction) at import time.
# r9 (ADVICE): the previous per-row floor(pow(decay, age) * 1e6 + 0.5)
# pinned an ENGINE-computed transcendental — floor flips by 1 whenever
# libm/JVM pow land within an ulp of a grid boundary, so the grid
# shrinks but does not eliminate the cross-engine risk. Literal integer
# weights shared by both plans eliminate it: no pow() anywhere.
_EWMA_W6 = [
    int(Fraction(7, 10) ** k * 10**6 + Fraction(1, 2))
    for k in range(EWMA_SPAN_DAYS + 1)
]
_EWMA_W6_SQL = "[" + ", ".join(str(w) for w in _EWMA_W6) + "]"

CUSUM_SLACK_SD = 0.5  # slack k in the one-sided CUSUM recursion
CUSUM_H_SD = 4.0  # decision threshold, in global stddev units


@query(
    "q_ewma_daily",
    oracle=f"""
        WITH daily AS (SELECT date_trunc('day', ts) AS d, count(*) AS n
                       FROM events GROUP BY d)
        SELECT t.d, t.n,
               floor((CAST(sum(i.n * ({_EWMA_W6_SQL}[
                                date_diff('day', i.d, t.d) + 1])) AS DOUBLE)
                      / CAST(sum({_EWMA_W6_SQL}[
                                date_diff('day', i.d, t.d) + 1]) AS DOUBLE))
                     * 10000.0 + 0.5) / 10000.0 AS ewma
        FROM daily t
        JOIN daily i ON i.d BETWEEN t.d - INTERVAL {EWMA_SPAN_DAYS} DAY AND t.d
        GROUP BY t.d, t.n
        ORDER BY t.d
    """,
    tags=("W4", "J6", "F2", "timeseries"),
)
def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily traffic,
    computed CLOSED-FORM as a weighted band self-join (each day joins
    its trailing 9 days; weight decay^age), not as the sequential
    recursion — so it is window-free, embarrassingly parallel, and
    identical SQL runs on both engines.

    Determinism: each EWMA is a <=10-term weighted mean whose weights
    are LITERAL integers (_EWMA_W6, exact-rational 0.7^age on a 1e-6
    grid, computed once at import) — no engine pow() anywhere, so
    there is no libm-ulp boundary risk to absorb; both engines sum
    the same exact int64 terms and perform ONE double division.

    Scale shape: the band join runs over the DAILY aggregate (|days|
    rows), so its cost is independent of event volume; a per-entity
    fleet variant adds the entity key to both join sides and stays
    bounded by |entities| x |days| x span.
    """
    daily = (
        scan(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    t, i = daily.alias("t"), daily.alias("i")
    age = F.datediff(F.col("t.d"), F.col("i.d"))
    # exact integer weight: literal table lookup, 1-indexed like the
    # DuckDB list subscript in the oracle. int64 headroom: daily count
    # n <= ~1e10 (100 TB) x w6 <= 1e6 -> 1e16/term x 10 terms < 2^63.
    w6 = F.element_at(F.array(*[F.lit(w) for w in _EWMA_W6]), age + 1)
    return (
        t.join(
            i,
            F.expr(
                f"i.d BETWEEN t.d - INTERVAL {EWMA_SPAN_DAYS} DAY AND t.d"
            ),
        )
        .groupBy(F.col("t.d").alias("d"), F.col("t.n").alias("n"))
        .agg(
            # numerator and denominator are exact int64 sums of
            # literal-weight products, then ONE division + 4-dp pin
            pin(
                F.sum(F.col("i.n") * w6).cast("double")
                / F.sum(w6).cast("double"),
                4,
            ).alias("ewma")
        )
        .orderBy("d")
    )


@query(
    "q_cusum_shift",
    oracle=f"""
        WITH h AS (SELECT date_trunc('hour', ts) AS hr, count(*) AS n
                   FROM events GROUP BY hr),
         st AS (SELECT count(*) AS m, sum(n) AS s1, sum(n * n) AS s2
                FROM h),
         g AS (SELECT hr, n,
                      s1 * 1.0 / m AS mu,
                      sqrt(CAST(m * s2 - s1 * s1 AS DOUBLE)
                           / (m * (m - 1.0))) AS sd
               FROM h CROSS JOIN st),
         c AS (SELECT hr, n, sd,
                      CAST(sum(CAST(floor((n - mu - {CUSUM_SLACK_SD} * sd)
                                          * 1000000.0 + 0.5) AS BIGINT))
                          OVER (ORDER BY hr) AS DOUBLE) / 1000000.0 AS cum
               FROM g),
         s AS (SELECT hr, n, sd,
                      cum - least(min(cum) OVER (ORDER BY hr), 0) AS s
               FROM c)
        SELECT hr, n,
               floor(s * 1000.0 + 0.5) / 1000.0 AS cusum,
               CASE WHEN s > {CUSUM_H_SD} * sd THEN 1 ELSE 0 END AS is_shift
        FROM s
        ORDER BY hr
    """,
    tags=("W4", "A5", "anomaly", "timeseries"),
)
def q_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM level-shift detector on hourly traffic. The
    textbook recursion S_t = max(0, S_{t-1} + x_t - mu - k*sd) is
    inherently sequential; here it is computed by its CLOSED FORM
    S_t = C_t - min(0, min_{i<=t} C_i) with C the prefix sums of the
    slack-adjusted deviations — two running window aggregates, no
    recursion, bit-identical on both engines because cumulative sums
    evaluate in hr order. Complements q_hourly_anomaly (point bursts)
    with SUSTAINED-drift detection.

    Scale shape: windows run over the hourly aggregate (720 rows at
    sf0.1) — single-series ORDER BY over a report-sized frame; the
    fleet variant partitions all three windows by (service, host).
    The global mu/sd ride a broadcast 1-row aggregate, not a window,
    on the Spark side.
    """
    hourly = (
        scan(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").alias("n"))
    )
    # global mu/sd from exact integer moments, and the prefix sums
    # accumulate PINNED per-row terms as exact int64 over the running
    # window (a float running sum is engine-order-dependent — DuckDB
    # uses a segment tree) so cum/s/the 4-sd threshold see identical
    # doubles on both engines.
    st = hourly.agg(
        F.count("*").alias("m"),
        dsum(F.col("n")).alias("s1"),
        dsum2(F.col("n")).alias("s2"),
    )
    mm = F.col("m")
    # moments in the shared DECIMAL tier (r9): hourly counts scale with
    # volume, so the int64 m*S2 - S1^2 shape outgrows 2^63 at large SF
    stats = st.select(
        (F.col("s1").cast("double") / mm).alias("mu"),
        F.sqrt(dec_var(mm, F.col("s2"), F.col("s1"))).alias("sd"),
    )
    g = hourly.crossJoin(F.broadcast(stats))
    run = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, 0)
    term = F.col("n") - F.col("mu") - F.lit(CUSUM_SLACK_SD) * F.col("sd")
    cum = (
        F.sum(
            F.floor(term * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        ).over(run)
        .cast("double")
        / F.lit(1000000.0)
    )
    c = g.select("hr", "n", "sd", cum.alias("cum"))
    s = c.select(
        "hr",
        "n",
        "sd",
        (F.col("cum") - F.least(F.min("cum").over(run), F.lit(0.0))).alias(
            "s"
        ),
    )
    return s.select(
        "hr",
        "n",
        pin(F.col("s"), 3).alias("cusum"),
        F.when(F.col("s") > F.lit(CUSUM_H_SD) * F.col("sd"), 1)
        .otherwise(0)
        .alias("is_shift"),
    ).orderBy("hr")


MAD_SCALE = 1.4826  # normal-consistency constant
MAD_Z = 3.0


@query(
    "q_mad_outliers",
    oracle=f"""
        WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                   FROM events GROUP BY event_type),
         d AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
               FROM events e JOIN m USING (event_type)),
         md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
                FROM d GROUP BY event_type)
        SELECT d.event_type, count(*) AS n,
               count(*) FILTER
                   (WHERE dev > {MAD_Z} * {MAD_SCALE} * md.mad) AS n_outliers,
               round(min(d.med), 4) AS med,
               round(min(md.mad), 4) AS mad
        FROM d JOIN md USING (event_type)
        GROUP BY d.event_type
        ORDER BY d.event_type
    """,
    tags=("A5", "anomaly", "robustness"),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier accounting via median absolute deviation: per
    event_type, values more than 3 robust-sigma (1.4826 x MAD) from
    the median are counted as outliers — the robust alternative to
    q_hourly_anomaly's mean/stddev z-score, insensitive to the
    outliers it is counting.

    Determinism: exact interpolated medians (Spark ``percentile`` =
    DuckDB ``quantile_cont``) are identical doubles on both sides, so
    the strict > threshold compare is bit-stable.

    Scale shape: two grouped exact percentiles + two broadcast-sized
    joins back (5 keys). Exact percentile buffers per group — the
    documented SCALE.md switch to approx_percentile applies beyond
    ~1e7 rows per key.
    """
    ev = scan(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    d = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    )
    mad = d.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad")
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count(
                F.when(
                    F.col("dev")
                    > F.lit(MAD_Z) * F.lit(MAD_SCALE) * F.col("mad"),
                    1,
                )
            ).alias("n_outliers"),
            F.round(F.min("med"), 4).alias("med"),
            F.round(F.min("mad"), 4).alias("mad"),
        )
        .orderBy("event_type")
    )


@query(
    "q_regression_trend",
    oracle="""
        SELECT o_orderpriority,
               regr_count(o_totalprice,
                          date_diff('day', TIMESTAMP '1995-01-01',
                                    o_orderdate)) AS n,
               round(regr_slope(o_totalprice,
                                date_diff('day', TIMESTAMP '1995-01-01',
                                          o_orderdate)), 4) AS slope,
               round(regr_intercept(o_totalprice,
                                    date_diff('day', TIMESTAMP '1995-01-01',
                                              o_orderdate)), 2) AS icept,
               round(regr_r2(o_totalprice,
                             date_diff('day', TIMESTAMP '1995-01-01',
                                       o_orderdate)), 6) AS r2
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("A5", "regression", "timeseries"),
)
def q_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority linear trend of order value over time via the SQL
    regression aggregates (regr_slope/intercept/r2/count) — one
    grouped pass, map-side partial states, no per-group buffering.

    Determinism: both engines use numerically stable single-pass
    covariance states; the measured cross-engine drift is <=1e-10 in
    slope units while the nearest round(4) boundary is 1.1e-5 away
    (margins verified at sf0.01 for all five groups before this
    rounding was chosen).

    Scale shape: the ideal aggregate — constant-size state per group,
    fully map-side combinable, shuffle = |groups| rows.
    """
    x = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
    y = F.col("o_totalprice")
    return (
        scan(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.regr_count(y, x).alias("n"),
            F.round(F.regr_slope(y, x), 4).alias("slope"),
            F.round(F.regr_intercept(y, x), 2).alias("icept"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_metric_correlation",
    oracle="""
        WITH d AS (SELECT date_trunc('day', ts) AS d, event_type,
                          count(*) AS n
                   FROM events GROUP BY d, event_type)
        SELECT a.event_type AS m1, b.event_type AS m2,
               floor(((count(*) * sum(a.n * b.n) - sum(a.n) * sum(b.n))
                      / sqrt(CAST(count(*) * sum(a.n * a.n)
                                  - sum(a.n) * sum(a.n) AS DOUBLE)
                             * CAST(count(*) * sum(b.n * b.n)
                                    - sum(b.n) * sum(b.n)
                                    AS DOUBLE)))
                     * 10000.0 + 0.5) / 10000.0 AS r
        FROM d a JOIN d b ON a.d = b.d AND a.event_type < b.event_type
        GROUP BY m1, m2
        ORDER BY m1, m2
    """,
    tags=("A5", "timeseries", "J8"),
)
def q_metric_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the five daily
    event-type series (the metric-relatedness report behind "errors
    spike with deploy clicks" dashboards), computed in LONG form: the
    daily (type, count) aggregate self-joins on day with m1 < m2, and
    corr() runs per type pair — no pivot-to-wide step, so the same
    plan handles 5 metrics or 5,000.

    Scale shape: the only corpus-sized pass is the daily aggregate;
    the self-join and corr run over |days| x |metrics| rows with
    |metrics|^2/2 constant-state groups.
    """
    d = (
        scan(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", "ts").alias("d"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.d") == F.col("b.d"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("m1"),
            F.col("b.event_type").alias("m2"),
        )
        # exact correlation from integer sufficient statistics (engine
        # corr() streams float co-moments in accumulation order)
        .agg(_exact_corr(F.col("a.n"), F.col("b.n"), 4).alias("r"))
        .orderBy("m1", "m2")
    )


@query(
    "q_event_trigrams",
    oracle="""
        WITH s AS (SELECT user_id, event_type,
                          lag(event_type, 1) OVER w AS p1,
                          lag(event_type, 2) OVER w AS p2
                   FROM events
                   WINDOW w AS (PARTITION BY user_id
                                ORDER BY epoch_ns(ts), event_id))
        SELECT p2 || '>' || p1 || '>' || event_type AS path, count(*) AS n
        FROM s
        WHERE p2 IS NOT NULL
        GROUP BY path
        ORDER BY n DESC, path
        LIMIT 15
    """,
    tags=("W3", "A1", "sequence"),
)
def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining: the 15 most common 3-step behavioral
    paths (event-type trigrams within each user's timeline) — the
    report behind "what do users do right before an error". Extends
    q_event_transitions (order-2 Markov) to order-3 via a double lag.

    Ordering discipline: both engines order by (NANOSECOND epoch,
    event_id) — the fixture's native ts precision, carried as ts_ns on
    the Spark side — so tie order is identical by construction.

    Scale shape: one shuffle on user_id for the lag window (per-user
    state = 2 trailing values), then a hash agg bounded by
    |event_types|^3 paths.
    """
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    s = scan(spark, sf_dir, "events").select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    )
    return (
        s.filter(F.col("p2").isNotNull())
        .select(
            F.concat_ws(">", "p2", "p1", "event_type").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(15)
    )


@query(
    "q_time_to_convert",
    oracle="""
        WITH c AS (SELECT user_id, min(epoch_ns(ts)) AS click_ns
                   FROM events WHERE event_type = 'click' GROUP BY user_id),
         p AS (SELECT e.user_id, min(epoch_ns(ts)) AS purchase_ns
               FROM events e JOIN c USING (user_id)
               WHERE event_type = 'purchase' AND epoch_ns(ts) >= c.click_ns
               GROUP BY e.user_id)
        SELECT count(*) AS n_converted,
               round(quantile_cont((purchase_ns - click_ns) / 6e10, 0.5), 2)
                   AS p50_min,
               round(quantile_cont((purchase_ns - click_ns) / 6e10, 0.9), 2)
                   AS p90_min
        FROM p JOIN c USING (user_id)
    """,
    tags=("A5", "J6", "funnel", "timeseries"),
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for each user, minutes from their
    FIRST click to their first purchase at-or-after it; reports the
    converted-user count and exact p50/p90 — the latency view of the
    funnel that q_funnel_steps counts.

    Both engines compute deltas on integer NANOSECOND epochs (the
    fixture's native ts precision, carried as ts_ns on the Spark side)
    so the division to minutes is bit-identical.

    Scale shape: two per-user min-aggregates (map-side combinable)
    and a broadcast-sized join between them; the exact percentile runs
    over |converted users| values — approx_percentile beyond ~1e7.
    """
    ev = scan(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_ns"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("click_ns"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts_ns") >= F.col("click_ns"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("purchase_ns"))
    )
    delta_min = (F.col("purchase_ns") - F.col("click_ns")) / F.lit(6e10)
    return (
        purchases.join(clicks, "user_id")
        .select(delta_min.alias("dm"))
        .agg(
            F.count("*").alias("n_converted"),
            F.round(F.expr("percentile(dm, 0.5)"), 2).alias("p50_min"),
            F.round(F.expr("percentile(dm, 0.9)"), 2).alias("p90_min"),
        )
    )


@query(
    "q_equidepth_histogram",
    oracle="""
        WITH b AS (SELECT quantile_cont(n_chars, 0.25) AS q1,
                          quantile_cont(n_chars, 0.50) AS q2,
                          quantile_cont(n_chars, 0.75) AS q3
                   FROM documents)
        SELECT CASE WHEN n_chars <= q1 THEN 0
                    WHEN n_chars <= q2 THEN 1
                    WHEN n_chars <= q3 THEN 2
                    ELSE 3 END AS bin,
               count(*) AS n,
               CAST(min(n_chars) AS BIGINT) AS lo,
               CAST(max(n_chars) AS BIGINT) AS hi
        FROM documents, b
        GROUP BY bin
        ORDER BY bin
    """,
    tags=("A5", "A1", "layout"),
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of document lengths: bin boundaries are
    the exact quartiles (so bins hold ~equal row counts), vs
    q_doc_length_histogram's fixed-width bins. The quantile-boundary +
    bin-assignment shape is exactly what `repartitionByRange` computes
    internally — this query exposes the boundaries a 100 TB layout
    job would use to balance output files over a skewed column.

    Scale shape: one exact-percentile aggregate (swap in
    approx_percentile's t-digest beyond ~1e7 rows — same plan), bounds
    broadcast back, map-side bin assignment, 4-group hash agg.
    """
    docs = scan(spark, sf_dir, "documents")
    b = docs.agg(
        F.expr("percentile(n_chars, 0.25)").alias("q1"),
        F.expr("percentile(n_chars, 0.50)").alias("q2"),
        F.expr("percentile(n_chars, 0.75)").alias("q3"),
    )
    binned = docs.crossJoin(F.broadcast(b)).select(
        "n_chars",
        F.when(F.col("n_chars") <= F.col("q1"), 0)
        .when(F.col("n_chars") <= F.col("q2"), 1)
        .when(F.col("n_chars") <= F.col("q3"), 2)
        .otherwise(3)
        .alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
        .orderBy("bin")
    )


@query(
    "q_incremental_join_maintenance",
    oracle="""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS rev
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("J2", "A1", "incremental"),
)
def q_incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN: with both sides split
    into base + delta (orders by orderdate, lineitem by shipdate,
    cutover = 1999-01-01), the maintained join is the IVM algebra
        base_O ⋈ base_L  ∪  base_O ⋈ ΔL  ∪  ΔO ⋈ base_L  ∪  ΔO ⋈ ΔL
    re-aggregated — and the oracle is the FULL recompute, so the hash
    match proves the four-term delta decomposition loses and double-
    counts nothing. Complements q_incremental_rollup (aggregate IVM)
    and q_merge_upsert (row-level CDC) with the join case.

    Scale shape: in steady state only the three delta terms run
    (|Δ| x base via index/bucket joins, |Δ| x |Δ|); the base x base
    term is the stored view. Here all four execute to make the
    verification non-vacuous; each term is a plain equi-join the
    planner shuffles or broadcasts by size.
    """
    cutover = "1999-01-01"
    orders = scan(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )
    o0 = orders.filter(F.col("o_orderdate") < cutover)
    do = orders.filter(F.col("o_orderdate") >= cutover)
    l0 = li.filter(F.col("l_shipdate") < cutover)
    dl = li.filter(F.col("l_shipdate") >= cutover)

    def term(o, l):
        return l.join(o, l["l_orderkey"] == o["o_orderkey"]).select(
            "o_orderpriority", "l_extendedprice"
        )

    maintained = (
        term(o0, l0)
        .unionByName(term(o0, dl))
        .unionByName(term(do, l0))
        .unionByName(term(do, dl))
    )
    return (
        maintained.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            money_sum("l_extendedprice").alias("rev"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_acf_daily",
    oracle="""
        WITH c AS (
          SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n
          FROM events GROUP BY 1),
        l AS (SELECT unnest(generate_series(1, 7)) AS lag)
        SELECT l.lag,
               count(*) AS n_pairs,
               floor(((count(*) * sum(a.n * b.n) - sum(a.n) * sum(b.n))
                      / sqrt(CAST(count(*) * sum(a.n * a.n)
                                  - sum(a.n) * sum(a.n) AS DOUBLE)
                             * CAST(count(*) * sum(b.n * b.n)
                                    - sum(b.n) * sum(b.n)
                                    AS DOUBLE)))
                     * 1000000.0 + 0.5) / 1000000.0 AS acf
        FROM l
        CROSS JOIN c a
        JOIN c b ON b.d = a.d - CAST(l.lag AS INTEGER)
        GROUP BY l.lag
        ORDER BY l.lag
    """,
    tags=("A5", "W3", "timeseries"),
)
def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily traffic at lags 1-7 days —
    the seasonality diagnostic (a weekly cycle shows as a lag-7 peak)
    run before fitting any forecast model.

    Gap-safe by construction: pairs are formed by a JOIN on calendar
    arithmetic (day = day - lag), not by row-offset lag(), so missing
    days pair with nothing instead of silently pairing with the wrong
    offset. Scale shape: the heavy part is one day-grain aggregate of
    the fact table (map-side combinable); the pair-join runs on the
    tiny day-grain series (365 rows/year regardless of fact bytes), so
    the 7-way lag explosion is broadcast-trivial.
    """
    ev = scan(spark, sf_dir, "events")
    c = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").alias("n"))
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    probe = c.crossJoin(F.broadcast(lags)).select(
        "lag", F.date_sub(F.col("d"), F.col("lag")).alias("d_prev"),
        F.col("n").alias("n_now"),
    )
    prev = c.select(F.col("d").alias("d_prev"), F.col("n").alias("n_prev"))
    return (
        probe.join(prev, "d_prev")
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            _exact_corr(F.col("n_now"), F.col("n_prev"), 6).alias("acf"),
        )
        .orderBy("lag")
    )


@query(
    "q_max_concurrency_daily",
    oracle="""
        WITH pts AS (
          SELECT date_trunc('day', ts) AS day, ts AS t,
                 1 AS delta
          FROM events
          UNION ALL
          SELECT date_trunc('day', ts) AS day,
                 least(ts + INTERVAL 5 MINUTE,
                       date_trunc('day', ts) + INTERVAL 1 DAY) AS t,
                 -1 AS delta
          FROM events),
        r AS (
          SELECT day,
                 sum(delta) OVER (PARTITION BY day ORDER BY t, delta
                                  ROWS UNBOUNDED PRECEDING) AS run
          FROM pts)
        SELECT day, CAST(max(run) AS BIGINT) AS max_concurrency
        FROM r GROUP BY day ORDER BY day
    """,
    tags=("W4", "J6", "timeseries"),
)
def q_max_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day via the classic interval sweep: each
    event holds a resource for 5 minutes (clipped at midnight, so days
    are independent); +1/-1 boundary points, ordered (time, delta) so
    an end releases before a coincident start (end-exclusive
    intervals), running sum, max per day.

    The sweep is O(n log n) against the O(n^2) interval-overlap
    self-join a naive formulation runs. Partitioned by day, each day's
    prefix sum is one in-partition scan; if one day is itself too big
    for a task, the same two-phase prefix trick as operators/prefix.py
    applies (hour-grain partials + carried offsets) without changing
    this query's contract. Ties among coincident identical deltas
    cannot change the prefix maximum (equal elements commute), so the
    result is deterministic without a full tie-break.
    """
    ev = scan(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), F.col("ts")
    )
    starts = ev.select("day", F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = ev.select(
        "day",
        F.least(
            F.col("ts") + F.expr("INTERVAL 5 MINUTES"),
            F.col("day") + F.expr("INTERVAL 1 DAY"),
        ).alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionByName(ends)
    w = (
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.withColumn("run", F.sum("delta").over(w))
    return (
        run.groupBy("day")
        .agg(F.max("run").alias("max_concurrency"))
        .orderBy("day")
    )


@query(
    "q_skyline_parts",
    oracle="""
        SELECT p_partkey, p_retailprice, p_size
        FROM part a
        WHERE NOT EXISTS (
          SELECT 1 FROM part b
          WHERE b.p_retailprice <= a.p_retailprice
            AND b.p_size >= a.p_size
            AND (b.p_retailprice < a.p_retailprice
                 OR b.p_size > a.p_size))
        ORDER BY p_retailprice, p_size, p_partkey
    """,
    tags=("W4", "O1", "skyline"),
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline (cheapest-price / largest-size frontier):
    parts not dominated by any part that is at least as cheap AND at
    least as large (strictly better on one axis).

    The oracle proves the semantics with the textbook NOT EXISTS
    (quadratic all-pairs); this side computes the identical set with
    the sort-scan algorithm: collapse to price classes (max size per
    distinct price), running max over strictly-cheaper classes, then a
    part survives iff it is its class's max AND beats every cheaper
    class's max. Cost: one agg keyed by price + a window over DISTINCT
    PRICE CLASSES (not rows) + one broadcastable join back — no
    all-pairs anywhere. The class-ordered window is a prefix scan; at
    a scale where even the class list overflows one task, the
    range-bucketed two-phase prefix of operators/prefix.py applies.
    Duplicate (price, size) rows tie and are all kept, matching the
    NOT EXISTS definition exactly.
    """
    part = scan(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    cls = part.groupBy("p_retailprice").agg(F.max("p_size").alias("cmax"))
    wc = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cls = cls.withColumn("m1", F.max("cmax").over(wc))
    return (
        part.join(F.broadcast(cls), "p_retailprice")
        .where(
            (F.col("p_size") == F.col("cmax"))
            & (F.col("m1").isNull() | (F.col("p_size") > F.col("m1")))
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_size", "p_partkey")
    )


@query(
    "q_basket_lift",
    oracle="""
        WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
        item AS (SELECT l_partkey, count(*) AS cnt FROM b GROUP BY 1),
        pair AS (
          SELECT a.l_partkey AS pa, c.l_partkey AS pb, count(*) AS n_both
          FROM b a JOIN b c
            ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
          GROUP BY 1, 2
          HAVING count(*) >= 3)
        SELECT pa, pb, n_both,
               round(n_both * 1.0 / ia.cnt, 6) AS confidence,
               round(n_both * 1.0 * n.n_orders / (ia.cnt * ib.cnt), 6) AS lift
        FROM pair
        JOIN item ia ON ia.l_partkey = pair.pa
        JOIN item ib ON ib.l_partkey = pair.pb
        CROSS JOIN n
        ORDER BY lift DESC, pa, pb
    """,
    tags=("A1", "J8", "basket"),
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-ordered parts:
    support / confidence / lift for every part pair appearing together
    in >= 3 orders — the recommendation-mining classic.

    Scale shape: baskets are distinct (order, part) rows; the pair
    build is a per-order self-join, so its cost is sum over orders of
    C(items, 2) — bounded by basket width (single-digit here), never
    |parts|^2. The per-item counts table is dimension-sized and
    broadcast onto the pair support aggregate; the support >= 3 floor
    prunes the long tail BEFORE the lift math, which at 100 TB is the
    difference between ranking ~10^5 rules and materializing every
    cosmetic 1-co-occurrence pair. A giant pathological basket (one
    order with 10^5 items) would need a width cap before the
    self-join — the same guard as the LSH bucket cap
    (operators/dedup.py).
    """
    li = scan(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = b.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    pair = (
        b.alias("a")
        .join(
            b.alias("c"),
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("c.l_partkey").alias("pb")
        )
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_both"))
        .where(F.col("n_both") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("pa"), F.col("cnt").alias("ca"))
    ib = item.select(F.col("l_partkey").alias("pb"), F.col("cnt").alias("cb"))
    return (
        pair.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .crossJoin(F.broadcast(n))
        .select(
            "pa",
            "pb",
            "n_both",
            F.round(F.col("n_both") / F.col("ca"), 6).alias("confidence"),
            F.round(
                F.col("n_both") * F.col("n_orders") / (F.col("ca") * F.col("cb")), 6
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "pa", "pb")
    )


@query(
    "q_seasonal_naive_error",
    oracle="""
        WITH c AS (
          SELECT event_type, date_trunc('day', ts) AS d, count(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT a.event_type,
               count(*) AS n_days,
               sum(abs(a.n - b.n)) * 1.0 / count(*) AS mae,
               CAST(sum(CAST(floor((abs(a.n - b.n) * 2.0 / (a.n + b.n))
                                   * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                 / (CAST(count(abs(a.n - b.n) * 2.0 / (a.n + b.n))
                         AS DOUBLE) * 1000000.0) AS smape
        FROM c a
        JOIN c b ON b.event_type = a.event_type
               AND b.d = a.d - INTERVAL 7 DAY
        GROUP BY a.event_type
        ORDER BY a.event_type
    """,
    tags=("A5", "W3", "timeseries", "forecast"),
)
def q_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecast (predict today = same
    weekday last week) on daily per-type traffic: MAE and sMAPE per
    event_type — the baseline every forecasting model must beat, and
    the cheapest drift alarm when the error jumps.

    Like q_acf_daily, forecast pairs come from calendar-join (d - 7
    days), so gaps never misalign the comparison; the fact-table cost
    is one day-grain aggregate and everything after runs on the tiny
    (type, day) series. sMAPE's symmetric denominator keeps the metric
    defined when either side is near zero (counts here are >= 1 by
    construction of GROUP BY existence).
    """
    ev = scan(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count("*").alias("n"))
    fc = c.select(
        "event_type",
        (F.col("d") + F.expr("INTERVAL 7 DAYS")).alias("d"),
        F.col("n").alias("n_pred"),
    )
    return (
        c.join(fc, ["event_type", "d"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            # exact integer |error| sum -> ONE double division; sMAPE's
            # per-pair ratios are identical doubles -> 1e-6 grid pin +
            # exact int64 sum (exact_avg recipe)
            (
                F.sum(F.abs(F.col("n") - F.col("n_pred"))) * F.lit(1.0)
                / F.count("*")
            ).alias("mae"),
            exact_avg(
                F.abs(F.col("n") - F.col("n_pred"))
                * 2.0
                / (F.col("n") + F.col("n_pred")),
                6,
            ).alias("smape"),
        )
        .orderBy("event_type")
    )


@query(
    "q_last_touch_attribution",
    oracle="""
        WITH p AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS t_us, event_id, value
          FROM events WHERE event_type = 'purchase'),
        tch AS (
          SELECT user_id, t_us,
                 max(touch_id) AS touch_id,
                 max(touch_type) AS touch_type
          FROM (SELECT user_id, epoch_ns(ts) // 1000 AS t_us,
                       event_id AS touch_id, event_type AS touch_type
                FROM events WHERE event_type IN ('click', 'view'))
          GROUP BY user_id, t_us),
        m AS (
          SELECT p.event_id, p.value,
                 (SELECT t.touch_type FROM tch t
                  WHERE t.user_id = p.user_id AND t.t_us <= p.t_us
                  ORDER BY t.t_us DESC LIMIT 1) AS touch_type
          FROM p)
        SELECT coalesce(touch_type, 'none') AS touch_type,
               count(*) AS n_purchases,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM m
        GROUP BY 1
        ORDER BY 1
    """,
    tags=("J7", "attribution", "funnel"),
)
def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the user's most recent prior click-or-view, and revenue is rolled
    up by the attributed touch type — the classic consumer of the
    as-of join (operators/joins.py J7), here in its KEYED per-user
    form.

    The touch side is pre-collapsed to one row per (user, instant)
    with a max tie-break, making the carried payload deterministic
    when several touches share a timestamp (the operator's documented
    tie caveat); the oracle resolves the same way via its own
    correlated argmax. 'none' rows are purchases with no prior touch
    (how='left'). Cost: one per-user ordered carry — the same
    parallel-by-key shape as sessionization, no self-join over the
    event history.
    """
    from hadoop_log_analysis_spark.operators.joins import asof_join

    ev = scan(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr("ts_ns div 1000").alias("t_us"),
        F.col("event_id"),
        "value",
    )
    touches = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .select(
            "user_id",
            F.expr("ts_ns div 1000").alias("t_us"),
            F.col("event_id").alias("touch_id"),
            F.col("event_type").alias("touch_type"),
        )
        .groupBy("user_id", "t_us")
        .agg(
            F.max("touch_id").alias("touch_id"),
            F.max("touch_type").alias("touch_type"),
        )
    )
    attributed = asof_join(
        p,
        touches,
        ts_col="t_us",
        by=["user_id"],
        payload=["touch_type"],
        how="left",
    )
    return (
        attributed.select(
            F.coalesce(F.col("touch_type"), F.lit("none")).alias("touch_type"),
            "value",
        )
        .groupBy("touch_type")
        .agg(
            F.count("*").alias("n_purchases"),
            money_sum("value").alias("revenue"),
        )
        .orderBy("touch_type")
    )


@query(
    "q_stl_decompose",
    oracle="""
        WITH c AS (
          SELECT date_trunc('day', ts) AS d, dayofweek(ts) AS dow,
                 count(*) AS n
          FROM events GROUP BY 1, 2),
        tr AS (
          SELECT d, dow, n,
                 avg(n) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                              AND 3 FOLLOWING) AS trend,
                 count(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                                AND 3 FOLLOWING) AS w
          FROM c),
        full_tr AS (SELECT * FROM tr WHERE w = 7),
        seas AS (
          SELECT dow,
                 CAST(sum(CAST(floor((n - trend) * 1000000.0 + 0.5)
                               AS BIGINT)) AS DOUBLE)
                   / (CAST(count(n - trend) AS DOUBLE) * 1000000.0)
                   AS seasonal
          FROM full_tr GROUP BY dow)
        SELECT f.d AS day, f.n,
               floor(f.trend * 10000.0 + 0.5) / 10000.0 AS trend,
               floor(s.seasonal * 10000.0 + 0.5) / 10000.0 AS seasonal,
               floor((f.n - f.trend - s.seasonal) * 10000.0 + 0.5)
                 / 10000.0 AS remainder
        FROM full_tr f JOIN seas s USING (dow)
        ORDER BY day
    """,
    tags=("A5", "W4", "timeseries", "decompose"),
)
def q_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite additive decomposition of daily traffic:
    trend = centered 7-day moving average (only days with a full
    window, so the estimate is unbiased at the edges), seasonal = mean
    detrended value per day-of-week, remainder = observed - trend -
    seasonal — the decomposition behind capacity planning and
    anomaly baselines.

    The fact-scale work is one day-grain aggregate; every window and
    join after that runs on the day-grain series (rows = #days), so
    the global ORDER BY window is bounded by the calendar, not the
    data (same posture as q_acf_daily). The day-of-week seasonal
    profile is a 7-row broadcast join back.
    """
    ev = scan(spark, sf_dir, "events")
    c = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"),
        F.dayofweek("ts").alias("dow"),
    ).agg(F.count("*").alias("n"))
    w7 = Window.orderBy("d").rowsBetween(-3, 3)  # day-grain series
    tr = c.select(
        "d",
        "dow",
        "n",
        F.avg("n").over(w7).alias("trend"),
        F.count("*").over(w7).alias("w"),
    ).where(F.col("w") == 7)
    # trend (windowed avg of INTEGER counts) is exact on both engines;
    # the per-dow seasonal avg is a float sum of identical detrended
    # doubles -> per-row 1e-6 grid + exact int64 sum (exact_avg)
    seas = tr.groupBy("dow").agg(
        exact_avg(F.col("n") - F.col("trend"), 6).alias("seasonal")
    )
    return (
        tr.join(F.broadcast(seas), "dow")
        .select(
            F.col("d").alias("day"),
            "n",
            pin(F.col("trend"), 4).alias("trend"),
            pin(F.col("seasonal"), 4).alias("seasonal"),
            pin(
                F.col("n") - F.col("trend") - F.col("seasonal"), 4
            ).alias("remainder"),
        )
        .orderBy("day")
    )


@query(
    "q_event_sequence_match",
    oracle="""
        WITH seqs AS (
          SELECT user_id,
                 count(*) AS n_events,
                 string_agg(substring(event_type, 1, 1), ''
                            ORDER BY epoch_us(ts), event_id) AS seq
          FROM events
          GROUP BY user_id)
        SELECT user_id,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(len(regexp_extract_all(seq, 'c[sv]*p')) AS BIGINT)
                 AS n_matches
        FROM seqs
        ORDER BY user_id
    """,
    tags=("W6", "A7", "cep"),
)
def q_event_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing-style SEQUENCE PATTERN matching (the
    MATCH_RECOGNIZE idiom, which Spark SQL lacks): per user, encode the
    time-ordered event stream as a string of type initials (c=click,
    v=view, s=signup, p=purchase, e=error) and count non-overlapping
    matches of the funnel pattern click -> (signup|view)* -> purchase —
    an error anywhere inside breaks the run, which is exactly the
    abandoned-funnel semantics q_funnel_steps's step-count formulation
    cannot express.

    The regex scan is left-to-right greedy non-overlapping in BOTH
    engines (Java regex here, RE2 in DuckDB — identical semantics for
    this alternation-free pattern). Event order is pinned by
    (epoch-µs, event_id) on both sides — µs, not ns, so the STREAMING
    twin (q_stream_sequence_match, whose JSON transport truncates to
    µs) orders events identically and the two twins' answers agree by
    construction, not by fixture luck (r5 review).

    Scale shape: one hash-agg to per-user ordered strings (state = one
    user's history, the sessionization contract) and a map-side regex —
    no joins, no windows. At 100 TB a user whose history exceeds
    memory would chunk by session first (q_sessionize) and match per
    session.
    """
    ev = scan(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("tus"),
        F.substring("event_type", 1, 1).alias("ini"),
    )
    seqs = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("tus", "event_id", "ini"))
                ),
                lambda s: s.ini,
            ),
            "",
        ).alias("seq"),
    )
    return seqs.select(
        "user_id",
        "n_events",
        F.size(F.regexp_extract_all("seq", F.lit("c[sv]*p"), F.lit(0)))
        .cast("long")
        .alias("n_matches"),
    ).orderBy("user_id")


@query(
    "q_interval_union_time",
    oracle="""
        WITH iv AS (
          SELECT user_id, event_id,
                 epoch_ns(ts) // 1000 AS s,
                 epoch_ns(ts) // 1000 + 1800000000 AS e
          FROM events),
        m AS (
          SELECT user_id, event_id, s, e,
                 max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS prev_max
          FROM iv),
        g AS (
          SELECT user_id, s, e,
                 sum(CASE WHEN prev_max IS NULL OR s > prev_max
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, event_id
                         ROWS UNBOUNDED PRECEDING) AS island
          FROM m),
        isl AS (
          SELECT user_id, island,
                 min(s) AS st, max(e) AS en
          FROM g GROUP BY user_id, island)
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_islands,
               CAST(sum(en - st) AS BIGINT) AS busy_us
        FROM isl
        GROUP BY user_id
        ORDER BY user_id
    """,
    tags=("W4", "W6", "timeseries"),
)
def q_interval_union_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage time — the billing/SLA staple: each
    event opens a 30-minute activity interval; overlapping intervals
    per user are COALESCED (classic interval merge via the
    running-max-end gaps-and-islands trick) and the total covered
    time is the sum of merged island lengths, never double-counting
    overlap. Differs from sessionization (W6) in what it measures:
    sessions count bursts separated by a gap; this measures the union
    LENGTH of fixed-width windows — the quantity invoices and SLA
    uptime clocks are written against.

    The island-open test compares against max(end) over all PRIOR
    intervals (not just the previous one): an earlier long interval
    can swallow several later short ones, which lag(e) would
    mis-split. All arithmetic is integer µs — no float boundaries.

    Scale: both windows partition by user (state = one user's
    intervals), then one hash-agg per island and per user — the
    sessionize contract exactly.
    """
    iv = scan(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("s"),
        (F.expr("ts_ns div 1000") + F.lit(1_800_000_000)).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.max("e").over(w_prev).alias("prev_max"),
    )
    # Same (s, event_id) tie-break as prev_max: ordering the cumsum by
    # a different key would let equal-µs rows take island ids in a
    # different order per engine.
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = m.select(
        "user_id",
        "s",
        "e",
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")),
                1,
            ).otherwise(0)
        )
        .over(w_cum)
        .alias("island"),
    )
    isl = g.groupBy("user_id", "island").agg(
        F.min("s").alias("st"), F.max("e").alias("en")
    )
    return (
        isl.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_islands"),
            F.sum(F.col("en") - F.col("st")).cast("long").alias("busy_us"),
        )
        .orderBy("user_id")
    )


# Power-of-two histogram boundaries: bucket k covers [2^(k-1), 2^k)
# with bucket 0 = values below 1. Explicit integer-valued boundaries
# compared exactly — floor(log2(x)) via FP logarithms would disagree
# between engines by 1 ulp at the boundaries.
_POW2_BOUNDS = [float(2**k) for k in range(0, 10)]  # 1, 2, ..., 512


@query(
    "q_value_histogram_log2",
    oracle=f"""
        WITH b AS (
          SELECT event_type,
                 len(list_filter({_POW2_BOUNDS},
                                 x -> x <= value)) AS bucket
          FROM events)
        SELECT event_type, bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM b
        GROUP BY event_type, bucket
        ORDER BY event_type, bucket
    """,
    tags=("A1", "histogram", "diagnostic"),
)
def q_value_histogram_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two (HDR-style) histogram of event values per type —
    the latency-engineering bucket scheme: bucket k holds values in
    [2^(k-1), 2^k), so relative resolution is constant across five
    orders of magnitude with ~10 buckets. Buckets are computed by
    COUNTING EXPLICIT integer-valued boundaries <= value (exact
    double comparisons, identical in both engines) rather than
    floor(log2(x)), whose FP logarithm can land a boundary value in
    different buckets per engine at 1 ulp.

    Scale: one map-side bounded array scan per row + a hash-agg into
    |types| x 11 groups — the mergeable-histogram shape; partial
    aggregation collapses each task to the group count.
    """
    bounds = F.array(*[F.lit(x) for x in _POW2_BOUNDS])
    ev = scan(spark, sf_dir, "events").select(
        "event_type",
        F.size(F.filter(bounds, lambda x: x <= F.col("value"))).alias(
            "bucket"
        ),
    )
    return (
        ev.groupBy("event_type", "bucket")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("event_type", "bucket")
    )


@query(
    "q_rfm_segmentation",
    oracle="""
        WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
        u AS (SELECT user_id,
                     CAST(floor((mx.m - max(epoch_us(ts))) / 3600000000)
                          AS BIGINT) AS rec_h,
                     count(*) AS freq,
                     sum(CASE WHEN event_type = 'purchase'
                              THEN CAST(value AS DECIMAL(18,2))
                              ELSE 0 END) AS mon
              FROM events CROSS JOIN mx
              GROUP BY user_id, mx.m),
        s AS (SELECT user_id, mon,
                     CASE WHEN rec_h <= 4 THEN 3
                          WHEN rec_h <= 10 THEN 2 ELSE 1 END AS r,
                     CASE WHEN freq >= 70 THEN 3
                          WHEN freq >= 64 THEN 2 ELSE 1 END AS f,
                     CASE WHEN mon >= 700 THEN 3
                          WHEN mon >= 550 THEN 2 ELSE 1 END AS m
              FROM u)
        SELECT r || '-' || f || '-' || m AS segment,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(mon) AS DOUBLE) AS total_spend
        FROM s
        GROUP BY segment
        ORDER BY segment
    """,
    tags=("A1", "F4", "segmentation"),
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM cube: each user scored 1-3
    on Recency (hours since last event vs the corpus watermark),
    Frequency (event count) and Monetary (purchase spend), rolled up
    to user counts + spend per R-F-M cell. Band edges are fixed
    business thresholds (4h/10h, 64/70 events, 550/700 spend —
    straddling the fixture terciles so all bands populate), NOT
    rank-derived: banding is a pure row-wise expression after the
    per-user aggregate, so the whole query is two map-side-combinable
    hash aggs and zero windows — the shape that survives 1000
    executors untouched. (Exact rank-derived quartiles exist in the
    repo as q_user_segments' two-phase rank; RFM composes three
    dimensions, where fixed bands are both the industry norm and the
    scale-correct choice.)

    Determinism: recency is floored integer hours off microsecond
    timestamps (DuckDB's date_diff counts calendar-boundary
    crossings, not elapsed time — both engines compute
    floor(Δµs/3.6e9) explicitly instead); spend is rounded to 2 dp
    (currency) BEFORE the 550/700 comparisons on both engines.
    """
    ev = scan(spark, sf_dir, "events")
    mx = ev.agg(F.max(ts_us()).alias("m"))
    u = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id", "m")
        .agg(
            F.floor((F.col("m") - F.max(ts_us())) / 3_600_000_000)
            .cast("long")
            .alias("rec_h"),
            F.count("*").alias("freq"),
            # exact DECIMAL spend: the 550/700 band edges then compare
            # exact values, and the per-segment total sums exactly
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", money("value")
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).alias("mon"),
        )
    )
    r = (
        F.when(F.col("rec_h") <= 4, 3).when(F.col("rec_h") <= 10, 2).otherwise(1)
    )
    f_ = F.when(F.col("freq") >= 70, 3).when(F.col("freq") >= 64, 2).otherwise(1)
    m_ = F.when(F.col("mon") >= 700, 3).when(F.col("mon") >= 550, 2).otherwise(1)
    s = u.select(
        "user_id",
        "mon",
        F.concat_ws("-", r.cast("string"), f_.cast("string"), m_.cast("string")).alias(
            "segment"
        ),
    )
    return (
        s.groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("mon").cast("double").alias("total_spend"),
        )
        .orderBy("segment")
    )


@query(
    "q_gini_spend",
    oracle="""
        WITH u AS (SELECT user_id,
                          sum(CASE WHEN event_type = 'purchase'
                                   THEN CAST(value AS DECIMAL(18,2))
                                   ELSE 0 END) AS spend
                   FROM events GROUP BY user_id),
        r AS (SELECT spend,
                     row_number() OVER (ORDER BY spend, user_id) AS rnk
              FROM u),
        s AS (SELECT count(*) AS n, sum(spend) AS sx,
                     sum(rnk * spend) AS six
              FROM r)
        SELECT CAST(n AS BIGINT) AS n_users,
               CAST(sx AS DOUBLE) AS total_spend,
               floor((2.0 * CAST(six AS DOUBLE) / (n * CAST(sx AS DOUBLE))
                      - (n + 1.0) / n) * 10000.0 + 0.5) / 10000.0 AS gini
        FROM s
    """,
    tags=("A5", "W1", "diagnostic"),
)
def q_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user purchase spend — the concentration
    index behind "does 1% of users carry the revenue?" (and, run over
    per-domain token counts, "does 1% of domains carry the corpus?" —
    the same operator curates data mixtures). Computed by the exact
    rank identity G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over
    ascending-ranked spends.

    Scale shape: the rank is NOT a global window — it is the repo's
    two-phase exact rank (q_user_segments / q_curriculum_phases
    pattern): per-spend-class histogram cumsum (|distinct 2-dp
    spends| rows, bounded by the value grain) broadcast back, plus a
    within-class row_number partitioned by spend. Tie order inside a
    class cannot change the statistic (equal x within a class makes
    Σ i·x independent of the permutation of their consecutive ranks),
    so the only rank machinery is class-parallel. Spends are rounded
    to 2 dp (currency) BEFORE ranking on both engines; the final
    3-term reduction is one scalar row.
    """
    u = (
        scan(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            # exact DECIMAL spend (functions.money): the rank order,
            # decile sums, and shares all derive from exact values
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", money("value")
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).alias("spend")
        )
    )
    r = exact_rank(u, "spend", "user_id", rank_col="rnk").select(
        "spend", "rnk"
    )
    return r.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("spend").cast("double").alias("total_spend"),
        # exact integer/decimal moments (six, sx, n) -> identically
        # parenthesized double arithmetic -> 4-dp floor pin
        pin(
            F.lit(2.0)
            * F.sum(F.col("rnk") * F.col("spend")).cast("double")
            / (F.count("*") * F.sum("spend").cast("double"))
            - (F.count("*") + F.lit(1.0)) / F.count("*"),
            4,
        ).alias("gini"),
    )


@query(
    "q_snapshot_diff",
    oracle="""
        WITH a AS (SELECT o_custkey, count(*) AS n_orders,
                          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total
                   FROM orders WHERE o_orderdate < DATE '1999-01-01'
                   GROUP BY o_custkey),
        b AS (SELECT o_custkey, count(*) AS n_orders,
                     sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total
              FROM orders GROUP BY o_custkey),
        d AS (SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
                     CASE WHEN a.o_custkey IS NULL THEN 'added'
                          WHEN b.o_custkey IS NULL THEN 'removed'
                          WHEN a.n_orders = b.n_orders
                               AND a.total = b.total THEN 'unchanged'
                          ELSE 'changed' END AS status,
                     coalesce(b.total, 0) - coalesce(a.total, 0) AS delta
              FROM a FULL JOIN b ON a.o_custkey = b.o_custkey)
        SELECT status,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(delta) AS DOUBLE) AS total_delta
        FROM d
        GROUP BY status
        ORDER BY status
    """,
    tags=("J3", "A1", "incremental", "diagnostic"),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — the data-diff every incremental
    pipeline runs before promoting a rebuild: the per-customer order
    aggregate AS OF 1999 vs the current snapshot, full-outer-joined
    on the key and classified added / removed / changed / unchanged,
    with the value delta per class. (On these append-only fixtures
    'removed' is structurally empty and 'added' counts customers who
    first ordered after the cut — exactly what an append-only diff
    should report; the oracle confirms rather than assumes it.)

    Scale shape: both snapshots reduce to ~|keys| aggregate rows
    BEFORE the full-outer join (never raw-row vs raw-row), the join
    is keyed on custkey (one co-partitioned shuffle), and the
    classification is a row-wise CASE rolled up to a 4-row report.
    Comparing ROUNDED totals makes 'unchanged' accumulation-order-
    proof. Same machinery class as q_incremental_join_maintenance —
    this is the audit that certifies such maintenance.
    """
    orders = scan(spark, sf_dir, "orders")

    def snap(df: DataFrame) -> DataFrame:
        # exact DECIMAL totals: the 'unchanged' classification does an
        # EQUALITY compare on them — the falsified rounded-double class
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n_orders"),
            F.sum(money("o_totalprice")).alias("total"),
        )

    a = snap(
        orders.filter(
            F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
        )
    ).alias("a")
    b = snap(orders).alias("b")
    d = a.join(b, "o_custkey", "full").select(
        F.when(F.col("a.total").isNull(), "added")
        .when(F.col("b.total").isNull(), "removed")
        .when(
            (F.col("a.n_orders") == F.col("b.n_orders"))
            & (F.col("a.total") == F.col("b.total")),
            "unchanged",
        )
        .otherwise("changed")
        .alias("status"),
        (
            F.coalesce(F.col("b.total"), F.lit(0).cast("decimal(28,2)"))
            - F.coalesce(F.col("a.total"), F.lit(0).cast("decimal(28,2)"))
        ).alias("delta"),
    )
    return (
        d.groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("delta").cast("double").alias("total_delta"),
        )
        .orderBy("status")
    )


@query(
    "q_seasonality_heatmap",
    oracle="""
        SELECT dayofweek(ts) AS dow, hour(ts) AS hr,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*) AS avg_value
        FROM events
        GROUP BY dow, hr
        ORDER BY dow, hr
    """,
    tags=("A1", "F2", "diagnostic"),
)
def q_seasonality_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality heatmap — the day-of-week x hour-of-day
    grid every ops dashboard opens with (weekday business-hours
    ridge, weekend trough) and the input to seasonal baselining
    (q_seasonal_naive_error picks its lag from exactly this shape).

    One map-side-combinable hash agg into at most 7x24 = 168 cells;
    nothing else. Cross-engine gotcha handled: Spark's dayofweek() is
    1=Sunday..7, DuckDB's is 0=Sunday..6 — the Spark side emits
    dayofweek-1 so both engines speak DuckDB's convention.
    """
    return (
        scan(spark, sf_dir, "events")
        .groupBy(
            (F.dayofweek("ts") - 1).alias("dow"), F.hour("ts").alias("hr")
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            (money_sum("value") / F.count("*")).alias("avg_value"),
        )
        .orderBy("dow", "hr")
    )


@query(
    "q_first_touch_attribution",
    oracle="""
        WITH ft AS (
          SELECT user_id,
                 arg_min(event_type, epoch_us(ts) * 100 + event_id % 100)
                   AS touch_type,
                 min(epoch_us(ts)) AS ft_us
          FROM events
          WHERE event_type IN ('click', 'view')
          GROUP BY user_id),
        p AS (SELECT user_id, epoch_us(ts) AS pus, value
              FROM events WHERE event_type = 'purchase')
        SELECT coalesce(CASE WHEN ft.ft_us < p.pus
                             THEN ft.touch_type END, 'none') AS touch_type,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(sum(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE)
                 AS attributed_value
        FROM p LEFT JOIN ft ON ft.user_id = p.user_id
        GROUP BY 1
        ORDER BY touch_type
    """,
    tags=("J3", "A1", "attribution"),
)
def q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch marketing attribution — the acquisition-side
    complement of q_last_touch_attribution: every purchase is
    credited to the channel of the user's EARLIEST click/view,
    provided it precedes the purchase ('none' otherwise). Last-touch
    needs a per-purchase as-of join (the nearest prior touch varies
    per purchase); first-touch needs only ONE argmin per user — a
    hash aggregate — joined back to purchases, which is why it is
    the cheap attribution model at 100 TB.

    Determinism: the argmin key is the microsecond timestamp with
    event_id folded into the sub-µs digits, so two touches collapsed
    onto one µs by timestamp truncation cannot make the engines pick
    different channels (ADVICE r4's as-of tie class, solved the same
    way).
    """
    ev = scan(spark, sf_dir, "events")
    ft = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.struct(
                    subus_key(ts_us()).alias("k"),
                    F.col("event_type").alias("t"),
                )
            ).alias("m"),
            F.min(ts_us()).alias("ft_us"),
        )
        .select("user_id", F.col("m.t").alias("touch_type"), "ft_us")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", ts_us().alias("pus"), "value"
    )
    return (
        p.join(ft, "user_id", "left")
        .select(
            F.coalesce(
                F.when(F.col("ft_us") < F.col("pus"), F.col("touch_type")),
                F.lit("none"),
            ).alias("touch_type"),
            "value",
        )
        .groupBy("touch_type")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            money_sum("value").alias("attributed_value"),
        )
        .orderBy("touch_type")
    )


@query(
    "q_audience_overlap",
    oracle="""
        WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        n AS (SELECT event_type, count(*) AS nu FROM tu GROUP BY 1),
        pair AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                        count(*) AS n_both
                 FROM tu a JOIN tu b
                   ON a.user_id = b.user_id
                  AND a.event_type < b.event_type
                 GROUP BY 1, 2)
        SELECT p.type_a, p.type_b,
               CAST(na.nu AS BIGINT) AS n_a,
               CAST(nb.nu AS BIGINT) AS n_b,
               CAST(p.n_both AS BIGINT) AS n_both,
               round(p.n_both * 1.0 / (na.nu + nb.nu - p.n_both), 4)
                 AS jaccard,
               round(p.n_both * 1.0 / least(na.nu, nb.nu), 4) AS containment
        FROM pair p
        JOIN n na ON na.event_type = p.type_a
        JOIN n nb ON nb.event_type = p.type_b
        ORDER BY p.type_a, p.type_b
    """,
    tags=("J2", "A3", "diagnostic"),
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, how
    much their user bases intersect — Jaccard (symmetric) and
    smaller-side containment (catches a niche audience nested inside
    a broad one that Jaccard scores low) — the cross-sell /
    cannibalization read of a product dashboard.

    Scale shape: dedup to distinct (type, user) FIRST (map-side
    combinable — the corpus-scale step), then the pair build
    self-joins keyed BY USER, so each user contributes at most
    |types|^2 pairs (types is a small closed set): the shuffle is
    |users| x type-pairs COUNTS, never event x event. Same
    inventory-bounded pattern as q_source_vocab_jaccard, keyed on
    users instead of vocabulary.
    """
    tu = (
        scan(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    n = tu.groupBy("event_type").agg(F.count("*").alias("nu"))
    a = tu.alias("a")
    b = tu.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    na = n.alias("na")
    nb = n.alias("nb")
    return (
        pair.join(F.broadcast(na), F.col("type_a") == F.col("na.event_type"))
        .join(F.broadcast(nb), F.col("type_b") == F.col("nb.event_type"))
        .select(
            "type_a",
            "type_b",
            F.col("na.nu").cast("long").alias("n_a"),
            F.col("nb.nu").cast("long").alias("n_b"),
            F.col("n_both").cast("long").alias("n_both"),
            F.round(
                F.col("n_both")
                / (F.col("na.nu") + F.col("nb.nu") - F.col("n_both")),
                4,
            ).alias("jaccard"),
            F.round(
                F.col("n_both") / F.least(F.col("na.nu"), F.col("nb.nu")), 4
            ).alias("containment"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q_lorenz_curve",
    oracle="""
        WITH u AS (SELECT user_id,
                          sum(CASE WHEN event_type = 'purchase'
                                   THEN CAST(value AS DECIMAL(18,2))
                                   ELSE 0 END) AS spend
                   FROM events GROUP BY user_id),
        r AS (SELECT spend,
                     row_number() OVER (ORDER BY spend, user_id) AS rnk
              FROM u),
        t AS (SELECT count(*) AS n, sum(spend) AS sx FROM r),
        b AS (SELECT CAST(ceil(rnk * 10.0 / t.n) AS INT) AS decile,
                     spend
              FROM r CROSS JOIN t),
        d AS (SELECT decile, sum(spend) AS ds, count(*) AS dn
              FROM b GROUP BY decile)
        SELECT d.decile,
               CAST(sum(d2.dn) AS BIGINT) AS cum_users,
               CAST(sum(d2.ds) AS DOUBLE) AS cum_spend,
               floor((CAST(sum(d2.ds) AS DOUBLE) / CAST(t.sx AS DOUBLE))
                     * 10000.0 + 0.5) / 10000.0 AS cum_share
        FROM d JOIN d d2 ON d2.decile <= d.decile CROSS JOIN t
        GROUP BY d.decile, t.sx
        ORDER BY d.decile
    """,
    tags=("A5", "W1", "diagnostic"),
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of purchase-spend concentration — the 10-point
    cumulative-share curve behind q_gini_spend's single number
    ("the bottom 50% of users carry X% of revenue"); run over
    per-domain token counts it answers "what fraction of the corpus
    do the smallest 90% of domains contribute" for mixture design.

    Same scale discipline as the Gini: users are ranked by the
    two-phase exact rank (per-spend-class histogram offsets broadcast
    + class-parallel row_number — no global window), deciles are the
    closed-form ceil(rank·10/n), and the cumulative curve is a 10x10
    triangular self-join on the DECILE table (q_vocab_growth_heaps'
    pattern) — cumulative never touches user-grain rows.
    """
    u = (
        scan(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            # exact DECIMAL spend: rank order, decile sums, and the
            # cumulative shares all derive from exact values
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", money("value")
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).alias("spend")
        )
    )
    r = exact_rank(u, "spend", "user_id", rank_col="rnk").select(
        "spend", "rnk"
    )
    t = r.agg(F.count("*").alias("n"), F.sum("spend").alias("sx"))
    d = (
        r.crossJoin(F.broadcast(t))
        .groupBy(
            F.ceil(F.col("rnk") * 10.0 / F.col("n")).cast("int").alias("decile")
        )
        .agg(F.sum("spend").alias("ds"), F.count("*").alias("dn"))
    )
    d1 = d.alias("d1")
    d2 = d.alias("d2")
    return (
        d1.join(F.broadcast(d2), F.col("d2.decile") <= F.col("d1.decile"))
        .crossJoin(F.broadcast(t))
        .groupBy(F.col("d1.decile").alias("decile"), F.col("sx"))
        .agg(
            F.sum("d2.dn").cast("long").alias("cum_users"),
            F.sum("d2.ds").cast("double").alias("cum_spend"),
            pin(
                F.sum("d2.ds").cast("double") / F.col("sx").cast("double"),
                4,
            ).alias("cum_share"),
        )
        .drop("sx")
        .orderBy("decile")
    )


@query(
    "q_fano_burstiness",
    oracle="""
        WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
                          count(*) AS n
                   FROM events GROUP BY 1, 2)
        , m AS (SELECT event_type, count(*) AS c,
                       sum(n) AS s1, sum(n * n) AS s2
                FROM h GROUP BY event_type)
        SELECT event_type,
               CAST(c AS BIGINT) AS n_hours,
               s1 * 1.0 / c AS mean_per_hour,
               CAST(c * s2 - s1 * s1 AS DOUBLE)
                 / CAST(c * c AS DOUBLE) AS var_per_hour,
               CAST(c * s2 - s1 * s1 AS DOUBLE)
                 / CAST(c * s1 AS DOUBLE) AS fano,
               CAST(c * s2 - s1 * s1 AS DOUBLE)
                 / CAST(c * s1 AS DOUBLE) > 1.5 AS bursty
        FROM m
        ORDER BY event_type
    """,
    tags=("A5", "F2", "diagnostic"),
)
def q_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio of hourly counts) per event
    type — the dispersion diagnostic that separates Poisson-like
    steady traffic (F≈1) from bursty arrivals (F>>1, e.g. error
    storms, crawler waves): it decides whether rate alerting can use
    simple thresholds or needs burst-aware baselines, and it sizes
    the partition-skew margin a streaming job should expect.

    Two map-side-combinable hash aggs: events -> (type, hour) counts
    (the only corpus-scale shuffle, keyed by a bounded grid), then
    the moment reduction per type. var_pop (not sample variance) on
    both engines; only outputs are rounded — the F>1.5 verdict
    compares raw moments whose ~1e-10 accumulation noise is far from
    the fixtures' margins (nearest type is >0.1 from the boundary at
    every SF).
    """
    h = (
        scan(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").alias("n"))
    )
    # exact integer sufficient statistics (the q_token_burstiness
    # recipe): engine var_pop streams float partials in accumulation
    # order, so its double is not bit-identical across engines; with
    # m hours, var = (m*S2 - S1^2)/m^2 and fano = (m*S2 - S1^2)/(m*S1)
    # are single double divisions of order-free int64 sums.
    # S1/S2 in the shared DECIMAL tier (r9): hourly counts scale with
    # volume, so the int64 m*S2 - S1^2 shape outgrows 2^63 at large SF
    m = h.groupBy("event_type").agg(
        F.count("*").alias("c"),
        dsum(F.col("n")).alias("s1"),
        dsum2(F.col("n")).alias("s2"),
    )
    num = dec_comoment(F.col("c"), F.col("s2"), F.col("s1"))
    return m.select(
        "event_type",
        F.col("c").cast("long").alias("n_hours"),
        (F.col("s1").cast("double") / F.col("c")).alias("mean_per_hour"),
        (num / (F.col("c") * F.col("c")).cast("double")).alias(
            "var_per_hour"
        ),
        (num / (F.col("c") * F.col("s1")).cast("double")).alias("fano"),
        (num / (F.col("c") * F.col("s1")).cast("double") > 1.5).alias(
            "bursty"
        ),
    ).orderBy("event_type")


@query(
    "q_time_weighted_avg",
    oracle="""
        WITH e AS (SELECT user_id, epoch_us(ts) AS tus, value, event_id
                   FROM events WHERE value IS NOT NULL),
        w AS (SELECT user_id, tus, value,
                     lead(tus) OVER (PARTITION BY user_id
                                     ORDER BY tus, event_id) AS nxt
              FROM e),
        s AS (SELECT user_id,
                     sum(value * (nxt - tus)) AS area,
                     sum(nxt - tus) AS span
              FROM w WHERE nxt IS NOT NULL
              GROUP BY user_id)
        SELECT user_id,
               CAST(span AS BIGINT) AS span_us,
               round(area / span, 4) AS twa_value
        FROM s
        WHERE span > 0
        ORDER BY user_id
    """,
    tags=("W3", "A1", "timeseries"),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the value signal per user — the
    billing/telemetry integral (each reading holds until the next
    one; readings that stand for a long time weigh more) that a plain
    avg() silently gets wrong whenever sampling is irregular, which
    log streams always are. Per user: observed span and the
    step-function integral divided by it.

    Scale shape: ONE lead() window partitioned BY USER (state bounded
    by a user's own events — the same per-key locality every
    sessionization uses, parallel across |users|), then a hash agg.
    Interval arithmetic in integer microseconds; the division happens
    once per user at output, rounded to 4 dp. Same-µs ties order by
    event_id on both engines, and NULL values drop BEFORE the lead so
    a gap in the signal extends the previous reading's hold — the
    LOCF convention (q_locf_fill's law) applied to integration.
    """
    e = (
        scan(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", ts_us().alias("tus"), "value", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    stepped = e.select(
        "user_id", "tus", "value", F.lead("tus").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    return (
        stepped.groupBy("user_id")
        .agg(
            F.sum(F.col("value") * (F.col("nxt") - F.col("tus"))).alias("area"),
            F.sum(F.col("nxt") - F.col("tus")).alias("span"),
        )
        .filter(F.col("span") > 0)
        .select(
            "user_id",
            F.col("span").cast("long").alias("span_us"),
            F.round(F.col("area") / F.col("span"), 4).alias("twa_value"),
        )
        .orderBy("user_id")
    )


@query(
    "q_event_debounce",
    oracle="""
        WITH e AS (SELECT user_id, event_type, event_id,
                          epoch_us(ts) AS tus,
                          CAST(floor(epoch_us(ts) / 300000000) AS BIGINT)
                            AS win
                   FROM events),
        r AS (SELECT event_type,
                     row_number() OVER (PARTITION BY user_id, event_type, win
                                        ORDER BY tus, event_id) AS rn
              FROM e)
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_raw,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               round(1.0 - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1.0
                           / count(*), 4) AS drop_rate
        FROM r
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("O5", "W1", "dedup"),
)
def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce / rate-limit accounting: keep only the FIRST event per
    (user, type) in each 5-minute tumbling window — the batch twin of
    streaming dropDuplicates-within-watermark (T5), and the standard
    pre-aggregation against double-fires, retry storms and
    instrumentation echo. Per type: raw count, survivors, drop rate.

    Scale shape: the keep-decision is a row_number over
    (user, type, window) — per-key-per-window state, the bounded
    partition shape; the report is a ~|types| hash agg. The window id
    is integer-floored µs (deterministic; no timestamp-truncation
    drift), first-in-window ties break by event_id on both engines.
    """
    e = scan(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        ts_us().alias("tus"),
        F.floor(ts_us() / 300_000_000).cast("long").alias("win"),
    )
    w = Window.partitionBy("user_id", "event_type", "win").orderBy(
        "tus", "event_id"
    )
    r = e.select("event_type", F.row_number().over(w).alias("rn"))
    kept = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
    return (
        r.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_raw"),
            kept.cast("long").alias("n_kept"),
            F.round(1.0 - kept / F.count("*"), 4).alias("drop_rate"),
        )
        .orderBy("event_type")
    )


@query(
    "q_session_bounce_rate",
    oracle="""
        WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id
                   FROM events),
        g AS (SELECT user_id, tus,
                     CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id
                                                    ORDER BY tus, event_id)
                               > 1800000000
                            OR lag(tus) OVER (PARTITION BY user_id
                                              ORDER BY tus, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_s
              FROM e),
        s AS (SELECT user_id, tus,
                     sum(new_s) OVER (PARTITION BY user_id
                                      ORDER BY tus
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM g),
        per AS (SELECT user_id, sid,
                       min(tus) AS start_us, count(*) AS n_events
                FROM s GROUP BY user_id, sid),
        daily AS (SELECT CAST(floor(start_us / 86400000000) AS BIGINT)
                           AS day_idx,
                        n_events
                 FROM per)
        SELECT day_idx,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bounces,
               round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                     / count(*), 4) AS bounce_rate
        FROM daily
        GROUP BY day_idx
        ORDER BY day_idx
    """,
    tags=("W6", "A1", "diagnostic"),
)
def q_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the fraction of sessions (30-min inactivity
    gap rule, q_sessionize's law) containing exactly ONE event — the
    engagement-quality headline a product dashboard tracks next to
    session counts. Buckets by the session's START day so a session
    spanning midnight counts once.

    Scale shape: the standard two-window sessionizer (gap flag via
    lag, session id via running sum) partitioned BY USER — per-key
    state, parallel across users — then session-grain and day-grain
    hash aggs. The day bucket is integer-floored µs (no timezone
    re-interpretation between engines); same-µs ties order by
    event_id in the gap window.
    """
    e = scan(spark, sf_dir, "events").select(
        "user_id", ts_us().alias("tus"), "event_id"
    )
    ow = Window.partitionBy("user_id").orderBy("tus", "event_id")
    g = e.select(
        "user_id",
        "tus",
        F.when(
            F.lag("tus").over(ow).isNull()
            | ((F.col("tus") - F.lag("tus").over(ow)) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sw = (
        Window.partitionBy("user_id")
        .orderBy("tus")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = g.select("user_id", "tus", F.sum("new_s").over(sw).alias("sid"))
    per = s.groupBy("user_id", "sid").agg(
        F.min("tus").alias("start_us"), F.count("*").alias("n_events")
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        per.select(
            F.floor(F.col("start_us") / 86_400_000_000)
            .cast("long")
            .alias("day_idx"),
            "n_events",
        )
        .groupBy("day_idx")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            bounces.cast("long").alias("n_bounces"),
            F.round(bounces / F.count("*"), 4).alias("bounce_rate"),
        )
        .orderBy("day_idx")
    )


@query(
    "q_theil_sen_trend",
    oracle="""
        WITH monthly AS (
          SELECT (extract(year FROM o_orderdate) * 12
                  + extract(month FROM o_orderdate)) AS idx,
                 sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders GROUP BY idx),
        slopes AS (
          SELECT round(CAST(b.rev - a.rev AS DOUBLE)
                       / (b.idx - a.idx), 6) AS slope,
                 CASE WHEN b.rev > a.rev THEN 1
                      WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
          FROM monthly a JOIN monthly b ON b.idx > a.idx),
        nm AS (SELECT count(*) AS n FROM monthly),
        mk AS (SELECT sum(sgn) AS s, count(*) AS n_pairs FROM slopes)
        SELECT (SELECT n FROM nm) AS n_months,
               round(quantile_cont(slope, 0.5), 4) AS sen_slope,
               CAST((SELECT s FROM mk) AS BIGINT) AS mk_s,
               round((SELECT s - CASE WHEN s > 0 THEN 1
                                      WHEN s < 0 THEN -1 ELSE 0 END
                      FROM mk)
                     / sqrt((SELECT n FROM nm) * ((SELECT n FROM nm) - 1.0)
                            * (2.0 * (SELECT n FROM nm) + 5.0) / 18.0),
                     6) AS mk_z
        FROM slopes
    """,
    tags=("A5", "J8", "timeseries", "robust"),
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend + Mann-Kendall significance over monthly
    order revenue: the median of all pairwise slopes (up to 29%
    outlier-months cannot move it, unlike q_regression_trend's OLS
    fit) plus the nonparametric MK test statistic S and its normal
    z-score — the standard "is this series really trending" pair.

    Scale shape: the pairwise machinery runs over the MONTHLY
    aggregate (|months| rows — calendar-bounded, independent of order
    volume), so the self-join is |months|^2/2 pairs of tiny rows; the
    corpus-scale work is exactly one date-keyed hash agg. Determinism:
    monthly revenue is pinned at 2 dp before differencing, each slope
    is rounded to 6 dp before the median (both engines interpolate the
    midpoint of an identical multiset), MK's S is a sum of integer
    signs of pinned values, and the z denominator is closed-form in
    n. Outputs round to 4/6 dp, orders of magnitude above the
    remaining interpolation ulp.
    """
    monthly = (
        scan(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("idx")
        )
        .agg(F.sum(money("o_totalprice")).alias("rev"))
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    slopes = a.join(b, F.col("b.idx") > F.col("a.idx")).select(
        # exact DECIMAL revenue difference -> ONE identical double
        # division per pair; the slope multiset is then identical on
        # both engines before the median interpolation
        F.round(
            (F.col("b.rev") - F.col("a.rev")).cast("double")
            / (F.col("b.idx") - F.col("a.idx")),
            6,
        ).alias("slope"),
        F.signum(F.col("b.rev") - F.col("a.rev")).cast("long").alias("sgn"),
    )
    n_months = monthly.count()
    var_s = n_months * (n_months - 1.0) * (2.0 * n_months + 5.0) / 18.0
    return slopes.agg(
        F.lit(n_months).cast("long").alias("n_months"),
        F.round(F.expr("percentile(slope, 0.5)"), 4).alias("sen_slope"),
        F.sum("sgn").alias("mk_s"),
        F.round(
            (F.sum("sgn") - F.signum(F.sum("sgn")))
            / F.lit(float(var_s) ** 0.5),
            6,
        ).alias("mk_z"),
    )


@query(
    "q_kaplan_meier",
    oracle="""
        WITH pu AS (
          SELECT user_id, min(epoch_ns(ts)) AS t0,
                 min(CASE WHEN event_type = 'purchase'
                          THEN epoch_ns(ts) END) AS p_ns
          FROM events GROUP BY user_id),
        obs AS (SELECT max(epoch_ns(ts)) AS end_ns FROM events),
        dur AS (
          SELECT (coalesce(p_ns, end_ns) - t0) // 3600000000000 AS d,
                 CASE WHEN p_ns IS NOT NULL THEN 1 ELSE 0 END AS ev
          FROM pu, obs),
        agg AS (
          SELECT d, sum(ev) AS d_i, count(*) - sum(ev) AS c_i
          FROM dur GROUP BY d),
        km AS (
          SELECT d, d_i,
                 (SELECT count(*) FROM dur)
                 - coalesce(sum(d_i + c_i) OVER (
                     ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS n_i
          FROM agg),
        s AS (
          SELECT d, d_i, n_i,
                 max(CASE WHEN d_i = n_i THEN 1 ELSE 0 END)
                   OVER (ORDER BY d) AS extinct,
                 sum(CASE WHEN d_i < n_i
                          THEN ln(1.0 - d_i * 1.0 / n_i) ELSE 0 END)
                   OVER (ORDER BY d) AS lsum
          FROM km WHERE d_i > 0)
        SELECT CAST(d AS BIGINT) AS duration_h,
               CAST(n_i AS BIGINT) AS n_at_risk,
               CAST(d_i AS BIGINT) AS n_events,
               CASE WHEN extinct = 1 THEN 0.0
                    ELSE round(exp(lsum), 6) END AS survival
        FROM s ORDER BY duration_h
    """,
    tags=("A5", "W4", "timeseries", "robust"),
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival curve for time-to-first-
    purchase with RIGHT-CENSORING: users who never purchase are
    censored at the observation end instead of being dropped — the
    bias plain avg(time-to-convert) has (q_time_to_convert measures
    converters only; this measures everyone). S(t) = prod over event
    times t_i <= t of (1 - d_i/n_i) with censored users counted in
    the at-risk set n_i until their censor hour.

    Scale shape: ONE per-user min-aggregate over the fact table (map-
    side combinable), then every KM step runs on the distinct-duration
    frame — bounded by |users'| distinct hours, aggregate-sized, so
    its unpartitioned ordered window is safe (same bounded-frame
    argument as q_vocab_growth_heaps' 10-row cumsum). Durations are
    integer floor-divided nanosecond epochs (bit-identical on both
    engines); the cumulative product is exp(sum(ln)) over exact
    integer ratios, skipping the ln(0) of an extinct risk set (Spark
    ln(0) is NULL, DuckDB -inf — the CASE keeps both engines on the
    defined domain), rounded to 6 dp.
    """
    ev = scan(spark, sf_dir, "events").select("user_id", "event_type", "ts_ns")
    pu = ev.groupBy("user_id").agg(
        F.min("ts_ns").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts_ns"))
        ).alias("p_ns"),
    )
    obs = ev.agg(F.max("ts_ns").alias("end_ns"))
    dur = pu.crossJoin(F.broadcast(obs)).select(
        F.expr(
            "(coalesce(p_ns, end_ns) - t0) div 3600000000000"
        ).alias("d"),
        F.col("p_ns").isNotNull().cast("long").alias("ev"),
    )
    agg = dur.groupBy("d").agg(
        F.sum("ev").alias("d_i"),
        (F.count("*") - F.sum("ev")).alias("c_i"),
    )
    n_total = dur.count()
    w_prior = (
        Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = agg.withColumn(
        "n_i",
        F.lit(n_total)
        - F.coalesce(F.sum(F.col("d_i") + F.col("c_i")).over(w_prior), F.lit(0)),
    ).filter(F.col("d_i") > 0)
    km = km.withColumn(
        "extinct",
        F.max((F.col("d_i") == F.col("n_i")).cast("int")).over(w_run),
    ).withColumn(
        "lsum",
        F.sum(
            F.when(
                F.col("d_i") < F.col("n_i"),
                F.log(1.0 - F.col("d_i") / F.col("n_i")),
            ).otherwise(F.lit(0.0))
        ).over(w_run),
    )
    return km.select(
        F.col("d").cast("long").alias("duration_h"),
        F.col("n_i").cast("long").alias("n_at_risk"),
        F.col("d_i").cast("long").alias("n_events"),
        F.when(F.col("extinct") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("lsum"), 6))
        .alias("survival"),
    ).orderBy("duration_h")


@query(
    "q_percentile_ranks",
    oracle="""
        WITH r AS (
          SELECT c_mktsegment AS segment, c_custkey,
                 round(percent_rank() OVER (PARTITION BY c_mktsegment
                                            ORDER BY c_acctbal, c_custkey),
                       6) AS pr,
                 round(cume_dist() OVER (PARTITION BY c_mktsegment
                                         ORDER BY c_acctbal, c_custkey),
                       6) AS cd
          FROM customer)
        SELECT segment,
               CAST(floor(pr * 4) AS INT) AS pr_quartile,
               CAST(count(*) AS BIGINT) AS n,
               round(min(pr), 6) AS pr_lo,
               round(max(cd), 6) AS cd_hi
        FROM r
        GROUP BY segment, pr_quartile
        ORDER BY segment, pr_quartile
    """,
    tags=("W1", "W4", "A1"),
)
def q_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist surface: account-balance percentile
    bands per market segment — the two relative-rank window functions
    the engine had not yet exercised (rank/dense_rank/row_number/ntile
    are covered elsewhere). Banded to quartiles so the output is
    |segments| x 4 rows.

    Scale shape: the window partitions by segment over the CUSTOMER
    dimension (dimension-scale frames — millions of rows per segment
    at 100 TB, well inside a window task; this is the dimension-rank
    case, NOT the corpus-scale case that demands the two-phase exact
    rank used by q_gini_spend). Order is (acctbal, custkey) — fully
    deterministic under ties; both rank functions are exact integer
    ratios rounded at 6 dp.
    """
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    r = scan(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )
    return (
        r.groupBy(
            "segment",
            F.floor(F.col("pr") * 4).cast("int").alias("pr_quartile"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.min("pr"), 6).alias("pr_lo"),
            F.round(F.max("cd"), 6).alias("cd_hi"),
        )
        .orderBy("segment", "pr_quartile")
    )


@query(
    "q_decayed_score",
    oracle="""
        WITH b AS (SELECT max(epoch_ns(ts)) AS now_ns FROM events),
        s AS (
          SELECT e.user_id,
                 e.value * exp(-0.05 * ((b.now_ns - epoch_ns(e.ts))
                                        / 86400000000000.0)) AS dv,
                 e.value AS v
          FROM events e CROSS JOIN b
          WHERE e.event_type IN ('click', 'purchase'))
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS raw_score,
               CAST(sum(CAST(floor(dv * 1000000.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1000000.0 AS decayed_score
        FROM s
        GROUP BY user_id
        ORDER BY decayed_score DESC, user_id
        LIMIT 25
    """,
    tags=("A1", "F3", "timeseries"),
)
def q_decayed_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay engagement score (half-life ~14 days at
    lambda=0.05/day): each click/purchase contributes value *
    exp(-lambda * age) — the recency weighting every ranking /
    recommendation freshness signal uses, where plain sum() treats a
    year-old purchase like today's.

    Scale shape: the decay is a WITHIN-ROW expression against one
    broadcast scalar (the observation end) — map-side only, then one
    per-user hash agg and a TakeOrdered top-25. Age is an exact
    integer-ns difference scaled by a closed-form constant; exp() may
    differ by an ulp across engines, but the per-user sum has
    |user-events| terms and rounds at 4 dp, orders of magnitude above
    that noise. Deterministic tie-break on user_id.
    """
    ev = scan(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    b = scan(spark, sf_dir, "events").agg(F.max("ts_ns").alias("now_ns"))
    age_days = (F.col("now_ns") - F.col("ts_ns")) / F.lit(86400000000000.0)
    return (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            money_sum("value").alias("raw_score"),
            # decayed_score is the ORDER key and a float-term sum —
            # per-row 1e-6 grid pin + exact int64 accumulation
            # (functions.exact_sum). The grid SHRINKS (not eliminates)
            # the exp() libm-ulp risk: floor still flips when a term
            # lands within one ulp of a grid boundary, ~1e-16 wobble
            # vs 1e-6 grid -> per-row flip probability ~1e-10
            exact_sum(F.col("value") * F.exp(-0.05 * age_days), 6).alias(
                "decayed_score"
            ),
        )
        .orderBy(F.desc("decayed_score"), "user_id")
        .limit(25)
    )


@query(
    "q_funnel_latency",
    oracle="""
        WITH s AS (SELECT user_id, min(epoch_ns(ts)) AS t_signup
                   FROM events WHERE event_type = 'signup'
                   GROUP BY user_id),
        c AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t_click
              FROM events e JOIN s USING (user_id)
              WHERE e.event_type = 'click'
                AND epoch_ns(e.ts) >= s.t_signup
              GROUP BY e.user_id),
        p AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t_purchase
              FROM events e JOIN c USING (user_id)
              WHERE e.event_type = 'purchase'
                AND epoch_ns(e.ts) >= c.t_click
              GROUP BY e.user_id),
        g1 AS (SELECT (c.t_click - s.t_signup) / 6e10 AS gap
               FROM c JOIN s USING (user_id)),
        g2 AS (SELECT (p.t_purchase - c.t_click) / 6e10 AS gap
               FROM p JOIN c USING (user_id))
        SELECT 'signup->click' AS step,
               CAST(count(*) AS BIGINT) AS n_users,
               round(quantile_cont(gap, 0.5), 2) AS p50_min,
               round(quantile_cont(gap, 0.9), 2) AS p90_min
        FROM g1
        UNION ALL
        SELECT 'click->purchase',
               CAST(count(*) AS BIGINT),
               round(quantile_cont(gap, 0.5), 2),
               round(quantile_cont(gap, 0.9), 2)
        FROM g2
        ORDER BY step
    """,
    tags=("A5", "funnel", "timeseries"),
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step funnel latency: exact p50/p90 minutes between ORDERED
    funnel stages (first signup -> first click at-or-after it ->
    first purchase at-or-after that). q_funnel_steps counts who
    reaches each stage; this measures how long each hop takes — the
    step whose latency blows out is the one to fix.

    Scale shape: each stage is ONE per-user min-aggregate joined to
    the previous stage's frame (user-bounded, broadcast-or-shuffled
    by the same user key — co-located chain); gaps are integer-ns
    differences scaled closed-form; exact percentiles run over
    |users-reaching-stage| values (approx_percentile past ~1e7).
    Both engines interpolate linearly; rounds at 2 dp.
    """
    ev = scan(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_ns"
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t_signup"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts_ns") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_ns") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t_purchase"))
    )
    g1 = c.join(s, "user_id").select(
        ((F.col("t_click") - F.col("t_signup")) / F.lit(6e10)).alias("gap")
    )
    g2 = p.join(c, "user_id").select(
        ((F.col("t_purchase") - F.col("t_click")) / F.lit(6e10)).alias("gap")
    )

    def step_row(g, name):
        return g.agg(
            F.lit(name).alias("step"),
            F.count("*").cast("long").alias("n_users"),
            F.round(F.expr("percentile(gap, 0.5)"), 2).alias("p50_min"),
            F.round(F.expr("percentile(gap, 0.9)"), 2).alias("p90_min"),
        )

    return (
        step_row(g1, "signup->click")
        .unionByName(step_row(g2, "click->purchase"))
        .orderBy("step")
    )


@query(
    "q_ohlc_hourly",
    oracle="""
        WITH p AS (
          SELECT epoch_ns(ts) // 3600000000000 AS hr,
                 (epoch_ns(ts) // 1000) * 100 + event_id % 100 AS k,
                 value
          FROM events WHERE event_type = 'purchase'),
        agg AS (
          SELECT hr, min(k) AS k_open, max(k) AS k_close,
                 round(max(value), 2) AS high,
                 round(min(value), 2) AS low,
                 CAST(count(*) AS BIGINT) AS n_trades,
                 CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                   AS volume
          FROM p GROUP BY hr)
        SELECT a.hr AS hr,
               round(max(CASE WHEN p.k = a.k_open THEN p.value END), 2)
                 AS open,
               a.high, a.low,
               round(max(CASE WHEN p.k = a.k_close THEN p.value END), 2)
                 AS close,
               a.n_trades, a.volume
        FROM agg a JOIN p ON p.hr = a.hr
        GROUP BY a.hr, a.high, a.low, a.n_trades, a.volume
        ORDER BY hr
    """,
    tags=("A1", "W5", "timeseries"),
)
def q_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle bars: per hour of purchase activity, the Opening
    (first) and Closing (last) values plus High/Low/count/volume —
    the first/last-in-group aggregation pattern every market-data /
    metering rollup needs, WITHOUT a window: open and close resolve
    via min_by/max_by on the repo's collision-proofed sub-µs key
    (µs * 100 + event_id % 100), so same-µs ties cannot make the
    engines pick different rows.

    Scale shape: ONE hash agg per hour bucket (map-side combinable —
    min_by/max_by carry (key, value) pairs through partial
    aggregation); no window, no self-join on the Spark side (the
    oracle's join-back is DuckDB-side spec only). Hour buckets are
    integer floor-divided ns epochs.
    """
    p = (
        scan(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.expr("ts_ns div 3600000000000").alias("hr"),
            (
                subus_key(F.expr("(ts_ns div 1000)"))
            ).alias("k"),
            "value",
        )
    )
    return (
        p.groupBy("hr")
        .agg(
            F.round(F.expr("min_by(value, k)"), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.expr("max_by(value, k)"), 2).alias("close"),
            F.count("*").cast("long").alias("n_trades"),
            money_sum("value").alias("volume"),
        )
        .orderBy("hr")
    )


# --- Churn training-set assembly ------------------------------------------
CHURN_FEATURE_DAYS = 20  # features from [t0, t0 + 20d]
CHURN_LABEL_DAYS = 10  # label window (t0+20d, t0+30d]


@query(
    "q_churn_training_set",
    oracle=f"""
        WITH b AS (SELECT min(epoch_ns(ts)) AS t0 FROM events),
        e AS (
          SELECT e.user_id, epoch_ns(e.ts) AS ns, e.event_type, e.value,
                 b.t0 + {CHURN_FEATURE_DAYS} * 86400000000000 AS cutoff,
                 b.t0 + {CHURN_FEATURE_DAYS + CHURN_LABEL_DAYS}
                      * 86400000000000 AS label_end
          FROM events e CROSS JOIN b),
        f AS (
          SELECT user_id,
                 count(CASE WHEN ns <= cutoff THEN 1 END) AS n_events,
                 count(DISTINCT CASE WHEN ns <= cutoff
                                     THEN event_type END) AS n_types,
                 count(DISTINCT CASE WHEN ns <= cutoff
                                     THEN ns // 86400000000000 END)
                   AS days_active,
                 CAST(sum(CASE WHEN ns <= cutoff
                               THEN CAST(value AS DECIMAL(18,2)) END)
                      AS DOUBLE) AS value_sum,
                 CAST((max(cutoff) - max(CASE WHEN ns <= cutoff
                                              THEN ns END))
                      // 3600000000000 AS BIGINT) AS recency_h,
                 5 * count(CASE WHEN ns > cutoff AND ns <= label_end
                               THEN 1 END)
                   < 2 * count(CASE WHEN ns <= cutoff THEN 1 END)
                   AS churned
          FROM e GROUP BY user_id)
        SELECT user_id,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(n_types AS BIGINT) AS n_types,
               CAST(days_active AS BIGINT) AS days_active,
               value_sum, recency_h, churned
        FROM f WHERE n_events > 0
        ORDER BY user_id
    """,
    tags=("A1", "A3", "training-data", "pipeline"),
)
def q_churn_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete churn TRAINING SET in one pass: per user, features
    computed strictly from the 20-day feature window (counts, type
    variety, active days, spend, recency) and the label: ACTIVITY
    COLLAPSE — the 10-day label window's event rate falling below
    80% of the user's feature-window rate (5*n_label < 2*n_feature;
    integer-exact). An absence label ("no events at all") is
    degenerate on steady traffic — every user stays active at every
    SF — so the rate-drop label is what keeps both classes populated.
    The feature/label temporal split q_feature_backfill generalizes;
    getting the windows to overlap is the leakage bug this query's
    structure makes impossible by construction.

    Scale shape: ONE fact pass with CONDITIONAL aggregation (CASE on
    the pinned cutoff inside count/sum/countDistinct) — no fan-out,
    no second scan for the label, no window; the cutoff scalars
    broadcast. Users active only after the cutoff are excluded (no
    feature evidence). All features are integers or 2-dp-pinned sums.
    """
    b = scan(spark, sf_dir, "events").agg(F.min("ts_ns").alias("t0"))
    ev = scan(spark, sf_dir, "events").select(
        "user_id", "ts_ns", "event_type", "value"
    )
    day_ns = 86400000000000
    e = ev.crossJoin(F.broadcast(b)).select(
        "user_id",
        "ts_ns",
        "event_type",
        "value",
        (F.col("t0") + CHURN_FEATURE_DAYS * day_ns).alias("cutoff"),
        (
            F.col("t0") + (CHURN_FEATURE_DAYS + CHURN_LABEL_DAYS) * day_ns
        ).alias("label_end"),
    )
    in_f = F.col("ts_ns") <= F.col("cutoff")
    in_l = (F.col("ts_ns") > F.col("cutoff")) & (
        F.col("ts_ns") <= F.col("label_end")
    )
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.when(in_f, 1)).cast("long").alias("n_events"),
            F.countDistinct(F.when(in_f, F.col("event_type")))
            .cast("long")
            .alias("n_types"),
            F.countDistinct(
                F.when(in_f, F.expr(f"ts_ns div {day_ns}"))
            )
            .cast("long")
            .alias("days_active"),
            F.sum(F.when(in_f, money("value"))).cast("double").alias(
                "value_sum"
            ),
            F.expr(
                f"(max(cutoff) - max(CASE WHEN ts_ns <= cutoff THEN ts_ns END))"
                f" div 3600000000000"
            )
            .cast("long")
            .alias("recency_h"),
            (
                5 * F.count(F.when(in_l, 1))
                < 2 * F.count(F.when(in_f, 1))
            ).alias("churned"),
        )
        .filter(F.col("n_events") > 0)
        .orderBy("user_id")
    )


@query(
    "q_session_path_topk",
    oracle="""
        WITH g AS (SELECT user_id, event_type,
                          epoch_ns(ts) AS ns, event_id,
                          CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w
                                    > INTERVAL 30 MINUTE
                               THEN 1 ELSE 0 END AS brk
                   FROM events
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, event_type, ns, event_id,
                     sum(brk) OVER (PARTITION BY user_id
                                    ORDER BY ns, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
              FROM g),
        p AS (SELECT user_id, sid,
                     string_agg(event_type, '>'
                                ORDER BY ns, event_id) AS path,
                     count(*) AS plen
              FROM s GROUP BY user_id, sid)
        SELECT path,
               CAST(count(*) AS BIGINT) AS n_sessions,
               floor(avg(plen) * 10000.0 + 0.5) / 10000.0 AS avg_len
        FROM p
        WHERE plen <= 5
        GROUP BY path
        ORDER BY n_sessions DESC, path
        LIMIT 10
    """,
    tags=("W6", "W3", "A1", "funnel"),
)
def q_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user paths: the 10 most common short (<=5 events) session
    event-type sequences, serialized as 'view>click>purchase' strings
    — the path-analysis view of behavior that funnels (fixed stage
    order) and transition matrices (memoryless hops) both miss:
    WHOLE trajectories, ranked.

    Scale shape: sessionization reuses operators/windows.sessionize
    (per-user ordered window — entity-bounded partitions); the path
    string builds from a per-session collect_list SORTED WITHIN THE
    ROW (array_sort on (ns, event_id, type) structs, then transform +
    array_join) — a bounded-size in-row sort, not a shuffle ordering
    assumption, because collect_list order is nondeterministic under
    retries. The (ns, event_id) key makes same-µs ties
    engine-deterministic. Top-10 is a TakeOrdered with a path
    tie-break.
    """
    from hadoop_log_analysis_spark.operators.windows import sessionize

    ev = scan(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_ns", "event_id"
    )
    s = sessionize(ev, gap=30 * 60 * 1_000_000_000)
    p = (
        s.groupBy("user_id", "sid")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("ts_ns", "event_id", "event_type")
                )
            ).alias("seq")
        )
        .select(
            F.array_join(
                F.transform(F.col("seq"), lambda x: x["event_type"]), ">"
            ).alias("path"),
            F.size("seq").alias("plen"),
        )
    )
    return (
        p.filter(F.col("plen") <= 5)
        .groupBy("path")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            # floor-based 4-dp pin: avg of small ints can sit ON a
            # decimal midpoint (k/32 groups), where engine round()
            # tie-breaks diverge on the SAME double.
            (
                F.floor(F.avg("plen") * F.lit(10000.0) + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("avg_len"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


ATTR_WINDOW_H = 24  # attribution lookback window (hours)


@query(
    "q_linear_attribution",
    oracle=f"""
        WITH t AS (
          SELECT user_id, event_type, epoch_ns(ts) AS ns
          FROM events WHERE event_type IN ('click', 'view')),
        p AS (
          SELECT user_id, epoch_ns(ts) AS pns, event_id, value
          FROM events WHERE event_type = 'purchase'),
        m AS (
          SELECT p.event_id, p.value, t.event_type,
                 count(*) OVER (PARTITION BY p.event_id) AS n_touch
          FROM p JOIN t ON t.user_id = p.user_id
                       AND t.ns < p.pns
                       AND t.ns >= p.pns - {ATTR_WINDOW_H} * 3600000000000)
        SELECT event_type AS channel,
               CAST(sum(CAST(floor((value * 1.0 / n_touch)
                                   * 1000000.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1000000.0 AS credited_revenue,
               CAST(count(DISTINCT event_id) AS BIGINT) AS n_purchases
        FROM m
        GROUP BY channel
        ORDER BY channel
    """,
    tags=("J6", "A1", "funnel"),
)
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution: every click/view in the 24 h
    before a purchase shares that purchase's revenue equally —
    completing the attribution triad (first-touch: one argmin per
    user; last-touch: per-purchase as-of; linear: per-purchase
    INTERVAL JOIN, credit 1/n per touch). Linear is the model that
    values mid-funnel channels first/last both erase.

    Scale shape: the touch-purchase match is a time-bounded interval
    join on the user key (both sides hash-partition on user_id — one
    co-located shuffle; the 24 h bound keeps per-purchase touch sets
    small); n_touch is a per-purchase window over the MATCHED frame
    (purchase-bounded, partitioned by event_id). Credits are exact
    value/n_touch ratios summed per channel and pinned at 2 dp.
    """
    ev = scan(spark, sf_dir, "events")
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", F.col("event_type").alias("channel"),
        F.col("ts_ns").alias("tns"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts_ns").alias("pns"),
        "event_id",
        "value",
    )
    m = p.join(
        t,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("tns") < F.col("pns"))
        & (F.col("tns") >= F.col("pns") - ATTR_WINDOW_H * 3600000000000),
    )
    w = Window.partitionBy("event_id")
    m = m.withColumn("n_touch", F.count("*").over(w))
    return (
        m.groupBy("channel")
        .agg(
            # per-row fractional credits are identical doubles (one
            # division of a 2-dp value by an integer); their float sum
            # is order-dependent -> 1e-6 grid pin + exact int64 sum
            exact_sum(F.col("value") * 1.0 / F.col("n_touch"), 6).alias(
                "credited_revenue"
            ),
            F.countDistinct("event_id").cast("long").alias("n_purchases"),
        )
        .orderBy("channel")
    )


@query(
    "q_xmr_control_chart",
    oracle="""
        WITH h AS (
          SELECT epoch_ns(ts) // 3600000000000 AS hr, count(*) AS x
          FROM events WHERE event_type = 'error' GROUP BY hr),
        mr AS (
          SELECT hr, x,
                 abs(x - lag(x) OVER (ORDER BY hr)) AS r
          FROM h),
        lim AS (
          SELECT avg(x) AS xbar, avg(r) AS rbar FROM mr)
        SELECT m.hr AS hr, CAST(m.x AS BIGINT) AS x,
               floor(l.xbar * 10000.0 + 0.5) / 10000.0 AS center,
               floor((l.xbar + 2.66 * l.rbar) * 10000.0 + 0.5) / 10000.0
                 AS ucl,
               floor(greatest(l.xbar - 2.66 * l.rbar, 0) * 10000.0 + 0.5)
                 / 10000.0 AS lcl,
               m.x > floor((l.xbar + 2.66 * l.rbar) * 10000.0 + 0.5)
                       / 10000.0
                 OR m.x < floor(greatest(l.xbar - 2.66 * l.rbar, 0)
                                * 10000.0 + 0.5) / 10000.0
                 AS out_of_control
        FROM mr m CROSS JOIN lim l
        WHERE m.x > floor((l.xbar + 2.66 * l.rbar) * 10000.0 + 0.5)
                      / 10000.0
           OR m.x < floor(greatest(l.xbar - 2.66 * l.rbar, 0)
                          * 10000.0 + 0.5) / 10000.0
        ORDER BY hr
    """,
    tags=("W3", "A5", "timeseries", "diagnostic"),
)
def q_xmr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals & moving range) control chart over hourly
    error counts: natural process limits at mean ± 2.66 x average
    moving range, flagging out-of-control hours — the Shewhart-style
    voice-of-the-process chart that distinguishes special-cause spikes
    from routine variation WITHOUT assuming a distribution (CUSUM
    detects sustained shifts, EWMA smooths, MAD needs a scale guess;
    XmR's limits come from short-term variation itself).

    Scale shape: one corpus-scale (hour) hash agg; the moving range
    lag and the limit scalars run on the calendar-bounded hourly
    frame. Limits are pinned to 4 dp with the algorithm-explicit
    floor(x*1e4+0.5) BEFORE the out-of-control comparison on both
    engines (avgs of exact integer counts can sit ON a decimal
    midpoint, where engine round() tie-breaks diverge), so the flag
    cannot flip on a tie-break rule.
    """

    def pin4(col):
        return pin(col, 4)  # shared floor-pin (functions.pin)

    h = (
        scan(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .groupBy(F.expr("ts_ns div 3600000000000").alias("hr"))
        .agg(F.count("*").alias("x"))
    )
    w = Window.orderBy("hr")
    mr = h.withColumn("r", F.abs(F.col("x") - F.lag("x").over(w)))
    w_all = Window.partitionBy()
    lim = mr.select(
        "hr",
        "x",
        pin4(F.avg("x").over(w_all)).alias("center"),
        pin4(
            F.avg("x").over(w_all) + 2.66 * F.avg("r").over(w_all)
        ).alias("ucl"),
        pin4(
            F.greatest(
                F.avg("x").over(w_all) - 2.66 * F.avg("r").over(w_all),
                F.lit(0.0),
            )
        ).alias("lcl"),
    )
    ooc = (F.col("x") > F.col("ucl")) | (F.col("x") < F.col("lcl"))
    return (
        lim.withColumn("out_of_control", ooc)
        .filter(ooc)
        .select(
            "hr", F.col("x").cast("long").alias("x"),
            "center", "ucl", "lcl", "out_of_control",
        )
        .orderBy("hr")
    )


@query(
    "q_peak_detection",
    oracle="""
        WITH h AS (
          SELECT epoch_ns(ts) // 3600000000000 AS hr, count(*) AS x
          FROM events GROUP BY hr),
        n AS (
          SELECT hr, x,
                 lag(x, 1) OVER w AS p1, lead(x, 1) OVER w AS n1,
                 round((lag(x, 1) OVER w + lag(x, 2) OVER w
                        + lead(x, 1) OVER w + lead(x, 2) OVER w) / 4.0,
                       4) AS neigh
          FROM h WINDOW w AS (ORDER BY hr))
        SELECT CAST(hr AS BIGINT) AS hr, CAST(x AS BIGINT) AS x, neigh,
               floor((x / neigh) * 10000.0 + 0.5) / 10000.0 AS prominence
        FROM n
        WHERE p1 IS NOT NULL AND n1 IS NOT NULL
          AND x > p1 AND x >= n1
          AND neigh > 0
          AND floor((x / neigh) * 10000.0 + 0.5) / 10000.0 >= 1.2
        ORDER BY hr
    """,
    tags=("W3", "A1", "timeseries", "diagnostic"),
)
def q_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic peak detection: hours that are strict local maxima
    (above the previous hour, at-or-above the next — the asymmetric
    tie rule keeps plateau edges from double-reporting) AND at least
    1.2x their ±2 h neighborhood average — prominence filtering so
    routine ripple doesn't page (q_xmr_control_chart flags level
    violations; this finds SHAPE features for capacity planning and
    campaign post-mortems).

    Scale shape: one corpus-scale (hour) hash agg, then lag/lead and
    the neighborhood mean over the calendar-bounded hourly frame.
    Prominence is a raw integer ratio, so its 4-dp pin is the
    algorithm-explicit floor(x*1e4+0.5) on both engines (x/neigh CAN
    terminate on an exact decimal midpoint — e.g. a 3200-count
    neighborhood with odd x — where engine round() tie-breaks
    diverge); the threshold compares the pinned value.
    """
    h = (
        scan(spark, sf_dir, "events")
        .groupBy(F.expr("ts_ns div 3600000000000").alias("hr"))
        .agg(F.count("*").alias("x"))
    )
    w = Window.orderBy("hr")
    n = h.select(
        "hr",
        "x",
        F.lag("x", 1).over(w).alias("p1"),
        F.lead("x", 1).over(w).alias("n1"),
        F.round(
            (
                F.lag("x", 1).over(w)
                + F.lag("x", 2).over(w)
                + F.lead("x", 1).over(w)
                + F.lead("x", 2).over(w)
            )
            / 4.0,
            4,
        ).alias("neigh"),
    )
    prom = F.floor(
        (F.col("x") / F.col("neigh")) * F.lit(10000.0) + F.lit(0.5)
    ) / F.lit(10000.0)
    return (
        n.filter(
            F.col("p1").isNotNull()
            & F.col("n1").isNotNull()
            & (F.col("x") > F.col("p1"))
            & (F.col("x") >= F.col("n1"))
            & (F.col("neigh") > 0)
            & (prom >= 1.2)
        )
        .select(
            F.col("hr").cast("long").alias("hr"),
            F.col("x").cast("long").alias("x"),
            "neigh",
            prom.alias("prominence"),
        )
        .orderBy("hr")
    )


@query(
    "q_aging_report",
    oracle="""
        WITH b AS (SELECT max(o_orderdate) AS as_of FROM orders),
        open_o AS (
          SELECT o.o_orderpriority AS priority,
                 date_diff('day', o.o_orderdate, b.as_of) AS age_d
          FROM orders o CROSS JOIN b
          WHERE o.o_orderstatus = 'O')
        SELECT priority,
               CAST(count(*) AS BIGINT) AS n_open,
               CAST(max(age_d) AS BIGINT) AS oldest_d,
               round(quantile_cont(age_d, 0.5), 1) AS p50_d,
               round(quantile_cont(age_d, 0.9), 1) AS p90_d,
               CAST(sum(CASE WHEN age_d > 60 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_over_60d
        FROM open_o
        GROUP BY priority
        ORDER BY priority
    """,
    tags=("A1", "A5", "diagnostic"),
)
def q_aging_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging report: per priority class, how old the
    still-open (status 'O') orders are — count, max, exact p50/p90
    ages, and the over-60-day backlog — the work-queue health view
    (an aging p90 that grows week-over-week means intake outruns
    fulfillment in that class long before totals show it).

    Scale shape: status filter pushed to the scan, ONE hash agg per
    priority with exact percentiles over |open orders per class|
    values (approx_percentile past ~1e7); ages are integer day
    diffs against one broadcast as-of scalar.
    """
    b = scan(spark, sf_dir, "orders").agg(F.max("o_orderdate").alias("as_of"))
    open_o = (
        scan(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderpriority", "o_orderdate")
        .crossJoin(F.broadcast(b))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.col("as_of"), F.col("o_orderdate")).alias("age_d"),
        )
    )
    return (
        open_o.groupBy("priority")
        .agg(
            F.count("*").cast("long").alias("n_open"),
            F.max("age_d").cast("long").alias("oldest_d"),
            F.round(F.expr("percentile(age_d, 0.5)"), 1).alias("p50_d"),
            F.round(F.expr("percentile(age_d, 0.9)"), 1).alias("p90_d"),
            F.sum((F.col("age_d") > 60).cast("long"))
            .cast("long")
            .alias("n_over_60d"),
        )
        .orderBy("priority")
    )


@query(
    "q_retry_storms",
    oracle="""
        WITH m AS (
          SELECT user_id, event_type,
                 epoch_ns(ts) // 300000000000 AS bucket5m,
                 count(*) AS c
          FROM events
          GROUP BY user_id, event_type, bucket5m)
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_storm_minutes,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(max(c) AS BIGINT) AS worst_burst,
               CAST(sum(c) AS BIGINT) AS n_storm_events
        FROM m
        WHERE c >= 2
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("A1", "A3", "diagnostic", "timeseries"),
)
def q_retry_storms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rapid-repeat detector: (user, type, 5-minute) buckets carrying
    2+ identical-type events — the client-retry-loop / double-click /
    scraper signature at this fixture's traffic density (~1.5
    events/user/day; production tightens the bucket and raises the
    threshold with density, same plan) — rolled up per event type
    with the worst burst size and affected-user counts. The fixed
    bucket grid deliberately trades the sliding-window definition
    for a ONE-hash-agg plan: a true sliding burst needs the
    q_time_range_window interval machinery; the grid catches any
    burst at most one boundary-split weaker — the right cost/recall
    trade for a monitoring sweep.

    Scale shape: one corpus-scale hash agg to the bucket grain, a
    |storm-buckets|-bounded rollup after the c >= 2 cut. Integer
    buckets from floor-divided ns epochs.
    """
    m = (
        scan(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            "event_type",
            F.expr("ts_ns div 300000000000").alias("bucket5m"),
        )
        .agg(F.count("*").alias("c"))
    )
    return (
        m.filter(F.col("c") >= 2)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_storm_minutes"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.max("c").cast("long").alias("worst_burst"),
            F.sum("c").cast("long").alias("n_storm_events"),
        )
        .orderBy("event_type")
    )


@query(
    "q_logrank_test",
    oracle="""
        WITH pu AS (
          SELECT user_id, min(epoch_ns(ts)) AS t0,
                 min(CASE WHEN event_type = 'purchase'
                          THEN epoch_ns(ts) END) AS p_ns,
                 min_by(event_type,
                        (epoch_ns(ts) // 1000) * 100 + event_id % 100)
                   = 'signup' AS grp_a
          FROM events GROUP BY user_id),
        obs AS (SELECT max(epoch_ns(ts)) AS end_ns FROM events),
        dur AS (
          SELECT (coalesce(p_ns, end_ns) - t0) // 3600000000000 AS d,
                 CASE WHEN p_ns IS NOT NULL THEN 1 ELSE 0 END AS ev,
                 CASE WHEN grp_a THEN 1 ELSE 0 END AS a
          FROM pu, obs),
        h AS (
          SELECT d,
                 sum(ev * a) AS da, sum(ev * (1 - a)) AS db,
                 sum((1 - ev) * a) AS ca, sum((1 - ev) * (1 - a)) AS cb
          FROM dur GROUP BY d),
        cum AS (
          SELECT d, da, db,
                 (SELECT sum(a) FROM dur)
                 - coalesce(sum(da + ca) OVER (ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS na,
                 (SELECT count(*) - sum(a) FROM dur)
                 - coalesce(sum(db + cb) OVER (ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS nb
          FROM h),
        terms AS (
          SELECT da, na, nb, da + db AS dt, na + nb AS nt
          FROM cum WHERE da + db > 0),
        s AS (
          SELECT sum(da - dt * na * 1.0 / nt) AS o_minus_e,
                 sum(CASE WHEN nt > 1
                          THEN dt * (na * 1.0 / nt)
                               * (1 - na * 1.0 / nt)
                               * (nt - dt) * 1.0 / (nt - 1)
                          ELSE 0 END) AS var_s,
                 CAST(count(*) AS BIGINT) AS n_event_times
          FROM terms)
        SELECT n_event_times,
               round(o_minus_e, 4) AS o_minus_e,
               round(o_minus_e / sqrt(var_s), 6) AS z
        FROM s
    """,
    tags=("A5", "W4", "timeseries", "robust"),
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do signup-first users convert to purchase on a
    DIFFERENT survival curve than other users? The standard censored
    two-group comparison — at each event hour, observed group-A
    conversions vs expected under the pooled hazard, summed and
    normalized by the hypergeometric variance (q_kaplan_meier draws
    ONE curve; this tests whether two differ — t-tests are invalid
    under censoring). Group assignment uses the sub-µs-folded min_by
    so the 'first event' is tie-deterministic on both engines.

    Scale shape: one per-user aggregate over the fact table, then
    every log-rank term runs on the distinct-duration histogram
    (bounded, value-grain) with exclusive-cumulative windows for the
    per-group risk sets — the q_kaplan_meier machinery with a group
    dimension. O-E and the variance are sums of exact-integer ratios;
    outputs round at 4/6 dp.
    """
    ev = scan(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_ns", "event_id"
    )
    pu = ev.groupBy("user_id").agg(
        F.min("ts_ns").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts_ns"))
        ).alias("p_ns"),
        (
            F.expr(
                "min_by(event_type, (ts_ns div 1000) * 100 + event_id % 100)"
            )
            == "signup"
        ).alias("grp_a"),
    )
    obs = ev.agg(F.max("ts_ns").alias("end_ns"))
    dur = pu.crossJoin(F.broadcast(obs)).select(
        F.expr("(coalesce(p_ns, end_ns) - t0) div 3600000000000").alias("d"),
        F.col("p_ns").isNotNull().cast("long").alias("ev"),
        F.col("grp_a").cast("long").alias("a"),
    )
    h = dur.groupBy("d").agg(
        F.sum(F.col("ev") * F.col("a")).alias("da"),
        F.sum(F.col("ev") * (1 - F.col("a"))).alias("db"),
        F.sum((1 - F.col("ev")) * F.col("a")).alias("ca"),
        F.sum((1 - F.col("ev")) * (1 - F.col("a"))).alias("cb"),
    )
    tot = dur.agg(
        F.sum("a").alias("n_a_total"),
        (F.count("*") - F.sum("a")).alias("n_b_total"),
    )
    w_prior = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    cum = h.crossJoin(F.broadcast(tot)).select(
        "d",
        "da",
        "db",
        (
            F.col("n_a_total")
            - F.coalesce(
                F.sum(F.col("da") + F.col("ca")).over(w_prior), F.lit(0)
            )
        ).alias("na"),
        (
            F.col("n_b_total")
            - F.coalesce(
                F.sum(F.col("db") + F.col("cb")).over(w_prior), F.lit(0)
            )
        ).alias("nb"),
    )
    terms = cum.filter(F.col("da") + F.col("db") > 0).select(
        "da",
        "na",
        "nb",
        (F.col("da") + F.col("db")).alias("dt"),
        (F.col("na") + F.col("nb")).alias("nt"),
    )
    frac_a = F.col("na") * 1.0 / F.col("nt")
    s = terms.agg(
        F.sum(F.col("da") - F.col("dt") * frac_a).alias("o_minus_e"),
        F.sum(
            F.when(
                F.col("nt") > 1,
                F.col("dt")
                * frac_a
                * (1 - frac_a)
                * (F.col("nt") - F.col("dt"))
                * 1.0
                / (F.col("nt") - 1),
            ).otherwise(F.lit(0.0))
        ).alias("var_s"),
        F.count("*").cast("long").alias("n_event_times"),
    )
    return s.select(
        "n_event_times",
        F.round("o_minus_e", 4).alias("o_minus_e"),
        F.round(F.col("o_minus_e") / F.sqrt(F.col("var_s")), 6).alias("z"),
    )


@query(
    "q_effective_sample_size",
    oracle="""
        WITH c AS (
          SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n
          FROM events GROUP BY 1),
        l AS (SELECT unnest(generate_series(1, 5)) AS lag),
        acf AS (
          SELECT l.lag,
                 CAST(floor(((count(*) * sum(a.n * b.n)
                              - sum(a.n) * sum(b.n))
                             / sqrt(CAST(count(*) * sum(a.n * a.n)
                                         - sum(a.n) * sum(a.n) AS DOUBLE)
                                    * CAST(count(*) * sum(b.n * b.n)
                                           - sum(b.n) * sum(b.n)
                                           AS DOUBLE)))
                            * 1000000.0 + 0.5) AS BIGINT) AS r6
          FROM l
          CROSS JOIN c a
          JOIN c b ON b.d = a.d - CAST(l.lag AS INTEGER)
          GROUP BY l.lag),
        agg AS (
          SELECT CAST(sum(r6) AS DOUBLE) / 1000000.0 AS rsum FROM acf),
        nn AS (SELECT count(*) AS n_days FROM c)
        SELECT CAST(nn.n_days AS BIGINT) AS n_days,
               agg.rsum AS acf_sum_1_5,
               floor((nn.n_days / greatest(1 + 2 * agg.rsum, 1.0))
                     * 100.0 + 0.5) / 100.0 AS effective_n,
               floor(greatest(1 + 2 * agg.rsum, 1.0) * 10000.0 + 0.5)
                 / 10000.0 AS inflation_factor
        FROM nn CROSS JOIN agg
    """,
    tags=("A5", "timeseries", "diagnostic"),
)
def q_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation-adjusted EFFECTIVE sample size of the daily
    series: ESS = n / (1 + 2*sum(rho_1..rho_5)) — how many
    INDEPENDENT observations the n autocorrelated days are actually
    worth. The discipline bridge to q_ab_power_calc: its n-per-arm
    assumes independence, and day-level metrics on autocorrelated
    traffic need the inflation factor this query reports (clamped at
    1.0 below — negative-ACF series don't get free power here).

    Scale shape: the q_acf_daily machinery (one day-grain fact
    aggregate; calendar-join pairs on the tiny day series) with two
    scalar reductions on top. ACF values are pinned at 6 dp before
    the sum, so the ESS derives from identical inputs on both
    engines.
    """
    ev = scan(spark, sf_dir, "events")
    c = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").alias("n"))
    lags = spark.range(1, 6).select(F.col("id").cast("int").alias("lag"))
    probe = c.crossJoin(F.broadcast(lags)).select(
        "lag",
        F.date_sub(F.col("d"), F.col("lag")).alias("d_prev"),
        F.col("n").alias("n_now"),
    )
    prev = c.select(F.col("d").alias("d_prev"), F.col("n").alias("n_prev"))
    # per-lag correlations from exact integer moments (engine corr()
    # streams float co-moments in accumulation order): with m pairs,
    # r = (m*Sxy - Sx*Sy)/sqrt((m*Sxx - Sx^2)*(m*Syy - Sy^2)) over
    # order-free exact sums, floor-pinned onto a 1e-6 INTEGER grid so
    # the 5-lag sum is itself an exact integer sum.
    x, y = F.col("n_now"), F.col("n_prev")
    # moments in the shared DECIMAL tier (functions.exact_comoment):
    # daily counts scale with data volume, so the int64 n*S2 - S1^2
    # shape overflows quadratically at larger scale factors
    rnum = exact_comoment(x, y).cast("double")
    rden = F.sqrt(
        exact_comoment(x).cast("double") * exact_comoment(y).cast("double")
    )
    acf = (
        probe.join(prev, "d_prev")
        .groupBy("lag")
        .agg(
            F.floor(rnum / rden * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("r6")
        )
    )
    agg = acf.agg(
        (F.sum("r6").cast("double") / F.lit(1000000.0)).alias("rsum")
    )
    nn = c.agg(F.count("*").alias("n_days"))
    infl = F.greatest(1 + 2 * F.col("rsum"), F.lit(1.0))
    return (
        nn.crossJoin(F.broadcast(agg))
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.col("rsum").alias("acf_sum_1_5"),
            pin(F.col("n_days") / infl, 2).alias("effective_n"),
            pin(infl, 4).alias("inflation_factor"),
        )
    )


@query(
    "q_max_drawdown",
    oracle="""
        WITH daily AS (
          SELECT n.n_name AS nation, date_trunc('day', o.o_orderdate) AS d,
                 sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders o
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey
          GROUP BY 1, 2),
        dd AS (
          SELECT nation, d, rev,
                 max(rev) OVER (PARTITION BY nation ORDER BY d
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS peak,
                 count(*) OVER (PARTITION BY nation) AS n_days
          FROM daily),
        r AS (
          SELECT nation, d, n_days,
                 CAST(rev AS DOUBLE) AS trough_rev,
                 CAST(peak AS DOUBLE) AS peak_rev,
                 floor((CAST(peak - rev AS DOUBLE) / CAST(peak AS DOUBLE))
                       * 1000000.0 + 0.5) / 1000000.0 AS drawdown,
                 row_number() OVER (
                   PARTITION BY nation
                   ORDER BY floor((CAST(peak - rev AS DOUBLE)
                                   / CAST(peak AS DOUBLE))
                                  * 1000000.0 + 0.5) / 1000000.0 DESC,
                            d ASC) AS rn
          FROM dd)
        SELECT nation, CAST(n_days AS BIGINT) AS n_days,
               d AS trough_day, peak_rev, trough_rev,
               drawdown AS max_drawdown
        FROM r WHERE rn = 1
        ORDER BY nation
    """,
    tags=("W4", "W1", "A1", "timeseries", "finance"),
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each nation's daily order-revenue series:
    the deepest relative slump from the running peak — the risk
    statistic that, unlike variance, only punishes DOWNSIDE moves
    and remembers their order (a crash-then-recover series and a
    steady series with the same variance have very different
    drawdowns). Reported per nation with the trough day (earliest
    day on ties, pinned by the 6-dp-rounded drawdown sort key).

    Determinism: daily revenue aggregates as EXACT DECIMAL (the HHI
    lesson — double sums flip 2-dp boundaries with accumulation
    order), the running peak is a max over exact decimals, and the
    one double division divides identical operands on both engines;
    the 6-dp pin is the algorithm-explicit floor(x*1e6+0.5) because a
    round-number peak CAN make the exact cents ratio terminate on a
    decimal midpoint, where engine round() tie-breaks diverge.

    Scale shape: corpus-scale work is one hash agg into (nation,
    day) cells; every window — running peak, partition count, the
    argmax row_number — is PARTITIONED BY nation over a
    calendar-bounded series (no global window, the
    q_curriculum_phases scale-cliff this repo replaced).
    """
    daily = (
        scan(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.date_trunc("day", "o_orderdate").alias("d"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .join(
            scan(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                scan(spark, sf_dir, "nation").select(
                    "n_nationkey", F.col("n_name").alias("nation")
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("nation", "d")
        .agg(F.sum("p").alias("rev"))
    )
    nw = Window.partitionBy("nation")
    runw = nw.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        "nation",
        "d",
        F.count("*").over(nw).alias("n_days"),
        F.col("rev"),
        F.max("rev").over(runw).alias("peak"),
    ).withColumn(
        # floor-pin: the drawdown is a ratio of exact cent integers —
        # round-number peaks make exact 6-dp midpoints reachable,
        # where engine round() tie-breaks diverge (and this is the
        # argmax ORDER key, so a flip moves trough_day).
        "drawdown",
        F.floor(
            (
                (F.col("peak") - F.col("rev")).cast("double")
                / F.col("peak").cast("double")
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0),
    )
    rn = F.row_number().over(nw.orderBy(F.col("drawdown").desc(), F.col("d")))
    return (
        dd.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "nation",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("d").alias("trough_day"),
            F.col("peak").cast("double").alias("peak_rev"),
            F.col("rev").cast("double").alias("trough_rev"),
            F.col("drawdown").alias("max_drawdown"),
        )
        .orderBy("nation")
    )


# Bollinger parameters: the classic 20-period/2-sigma band, narrowed
# to a 7-observed-day trailing window so the sparse per-region daily
# series at small scale factors still fills frames.
BOLLINGER_WIN = 7
BOLLINGER_K = 2.0


@query(
    "q_bollinger_breakouts",
    oracle=f"""
        WITH daily AS (
          SELECT r.r_name AS region, date_trunc('day', o.o_orderdate) AS d,
                 CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                           * 100 AS BIGINT) AS BIGINT) AS cents
          FROM orders o
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey
          JOIN region r ON r.r_regionkey = n.n_regionkey
          GROUP BY 1, 2),
        w AS (
          SELECT region, d, cents,
                 count(*) OVER fr AS n,
                 sum(cents) OVER fr AS s1,
                 -- HUGEINT the FIRST factor: DuckDB's window SUM
                 -- promotes to int128, but the inner BIGINT * BIGINT
                 -- does not — daily cents pass 2^31.5 at sf1-class
                 -- revenue densities and the square wraps (sf1 probe)
                 sum(CAST(cents AS HUGEINT) * cents) OVER fr AS s2
          FROM daily
          WINDOW fr AS (PARTITION BY region ORDER BY d
                        ROWS BETWEEN {BOLLINGER_WIN - 1} PRECEDING
                        AND CURRENT ROW)),
        z AS (
          SELECT region, d, cents, s1,
                 CAST({BOLLINGER_WIN} * s2 - s1 * s1 AS DOUBLE)
                 / ({BOLLINGER_WIN} * ({BOLLINGER_WIN} - 1.0)) AS var_c
          FROM w WHERE n = {BOLLINGER_WIN})
        SELECT region, d,
               round(cents / 100.0, 2) AS rev,
               round(s1 / {BOLLINGER_WIN}.0 / 100.0, 2) AS ma,
               round((cents - s1 / {BOLLINGER_WIN}.0) / sqrt(var_c), 4) AS z
        FROM z
        WHERE var_c > 0
          AND abs((cents - s1 / {BOLLINGER_WIN}.0) / sqrt(var_c))
              > {BOLLINGER_K}
        ORDER BY region, d
    """,
    tags=("W4", "A1", "timeseries", "finance"),
)
def q_bollinger_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout days: for each region's daily revenue
    series, a trailing 7-observed-day mean/sigma band; days whose
    revenue sits more than 2 trailing sigmas from the trailing mean
    are flagged — the mean-reversion alert complementing
    q_xmr_control_chart (global limits) with LOCAL adaptive limits
    that track regime changes.

    Determinism end-to-end in integers: daily revenue becomes EXACT
    cents via decimal sum (never a double round), the frame
    aggregates s1 = sum(cents) and s2 = sum(cents^2) are exact
    integer window sums — DECIMAL(38,0) on the Spark side, int128 on
    DuckDB's (s1^2 already overflows int64 at sf0.1's daily
    revenues) — exact regardless of the engines' frame-summation
    order (DuckDB segment trees vs Spark's frame re-scan, the FP
    trap a naive stddev() window would hit), and the variance
    identity (n*s2 - s1^2)/(n(n-1)) is computed from those exact
    integers, so z divides identical doubles on both engines.

    Scale shape: one hash agg into (region, day) cells, then
    PARTITIONED windows over calendar-bounded per-region series;
    warmup rows (frame count < 7) are excluded, not emitted as
    unstable bands.
    """
    daily = (
        scan(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.date_trunc("day", "o_orderdate").alias("d"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .join(
            scan(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                scan(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_regionkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                scan(spark, sf_dir, "region").select(
                    "r_regionkey", F.col("r_name").alias("region")
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("region", "d")
        .agg((F.sum("p") * 100).cast("long").alias("cents"))
    )
    fr = (
        Window.partitionBy("region")
        .orderBy("d")
        .rowsBetween(-(BOLLINGER_WIN - 1), 0)
    )
    n_, k_ = BOLLINGER_WIN, BOLLINGER_K
    c_dec = F.col("cents").cast("decimal(38,0)")
    w = daily.select(
        "region",
        "d",
        "cents",
        F.count("*").over(fr).alias("n"),
        F.sum(c_dec).over(fr).alias("s1"),
        F.sum(c_dec * c_dec).over(fr).alias("s2"),
    ).where(F.col("n") == n_)
    var_c = (n_ * F.col("s2") - F.col("s1") * F.col("s1")).cast("double") / (
        n_ * (n_ - 1.0)
    )
    zcol = (
        F.col("cents") - F.col("s1").cast("double") / float(n_)
    ) / F.sqrt(var_c)
    return (
        w.withColumn("var_c", var_c)
        .where(F.col("var_c") > 0)
        .withColumn("z_", zcol)
        .where(F.abs(F.col("z_")) > k_)
        .select(
            "region",
            "d",
            F.round(F.col("cents") / 100.0, 2).alias("rev"),
            F.round(F.col("s1") / float(n_) / 100.0, 2).alias("ma"),
            F.round(F.col("z_"), 4).alias("z"),
        )
        .orderBy("region", "d")
    )


# Holt's linear-trend smoothing constants — exact binary fractions so
# the per-step arithmetic is the same dyadic multiply-add on every
# engine (0.5 = 2^-1, 0.25 = 2^-2; no decimal-literal representation
# drift enters the recursion).
HOLT_ALPHA = 0.5
HOLT_BETA = 0.25
HOLT_HORIZON = 7.0

_HOLT_SCHEMA = (
    "nation string, n_days long, level double, trend double, fcst double"
)


def _holt_group(pdf):
    """Holt recursion over ONE nation's day-ordered revenue series.

    l_t = a*y_t + (1-a)*(l + b);  b_t = g*(l_t - l) + (1-g)*b, seeded
    l_1 = y_1, b_1 = y_2 - y_1 (0 for a length-1 series). A plain
    Python loop over floats: each step is the exact IEEE expression
    the DuckDB recursive-CTE oracle evaluates, so the final state is
    bit-identical, not approximately equal.
    """
    import pandas as pd

    ys = [float(v) for v in pdf.sort_values("d")["y"]]
    lvl = ys[0]
    b = (ys[1] - ys[0]) if len(ys) > 1 else 0.0
    for y in ys[1:]:
        new_l = HOLT_ALPHA * y + (1.0 - HOLT_ALPHA) * (lvl + b)
        b = HOLT_BETA * (new_l - lvl) + (1.0 - HOLT_BETA) * b
        lvl = new_l
    return pd.DataFrame(
        {
            "nation": [pdf["nation"].iloc[0]],
            "n_days": [len(ys)],
            "level": [lvl],
            "trend": [b],
            "fcst": [lvl + HOLT_HORIZON * b],
        }
    )


@query(
    "q_holt_linear_forecast",
    oracle=f"""
        WITH RECURSIVE daily AS (
          SELECT n.n_name AS nation, date_trunc('day', o.o_orderdate) AS d,
                 sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders o
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey
          GROUP BY 1, 2),
        ser AS (
          SELECT nation, CAST(rev AS DOUBLE) AS y,
                 row_number() OVER (PARTITION BY nation ORDER BY d) AS rn,
                 count(*) OVER (PARTITION BY nation) AS n
          FROM daily),
        rec(nation, rn, n, l, b) AS (
          SELECT s1.nation, 1, s1.n, s1.y,
                 coalesce(s2.y - s1.y, 0.0)
          FROM ser s1 LEFT JOIN ser s2
            ON s2.nation = s1.nation AND s2.rn = 2
          WHERE s1.rn = 1
          UNION ALL
          SELECT r.nation, r.rn + 1, r.n,
                 {HOLT_ALPHA} * s.y
                 + {1.0 - HOLT_ALPHA} * (r.l + r.b),
                 {HOLT_BETA} * (({HOLT_ALPHA} * s.y
                                 + {1.0 - HOLT_ALPHA} * (r.l + r.b))
                                - r.l)
                 + {1.0 - HOLT_BETA} * r.b
          FROM rec r JOIN ser s
            ON s.nation = r.nation AND s.rn = r.rn + 1)
        SELECT nation, CAST(n AS BIGINT) AS n_days,
               round(l, 4) AS level, round(b, 4) AS trend,
               round(l + {HOLT_HORIZON} * b, 4) AS fcst
        FROM rec WHERE rn = n
        ORDER BY nation
    """,
    tags=("U4", "timeseries", "forecast", "iterative"),
)
def q_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend exponential smoothing per nation over the
    daily revenue series, with a 7-step-ahead forecast — the
    level+trend upgrade of q_ewma_daily (which tracks level only) and
    the closed-form cousin of q_seasonal_naive_error's baseline. An
    inherently SEQUENTIAL recurrence: each day's state depends on the
    previous day's, which no window frame expresses.

    Spark-first shape for sequential-per-key state: applyInPandas
    over the nation groups — each group's series is calendar-bounded
    (days, never order volume), groups run in parallel, and the
    corpus-scale work (the daily aggregate) happens BEFORE the
    Python boundary, so the Arrow transfer moves |nations| x |days|
    rows, not orders. The DuckDB oracle runs the SAME recurrence as
    a recursive CTE (one iteration per day, all nations advancing in
    lockstep) — dyadic smoothing constants and identical expression
    shapes make the two engines' float states bit-equal, so the 4-dp
    output rounding is cosmetic, not load-bearing.

    Scale note: series state is O(1) per group; the recursion length
    is the calendar, not the data. At 100 TB the daily pre-aggregate
    is the only shuffle.
    """
    daily = (
        scan(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.date_trunc("day", "o_orderdate").alias("d"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .join(
            scan(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                scan(spark, sf_dir, "nation").select(
                    "n_nationkey", F.col("n_name").alias("nation")
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("nation", "d")
        .agg(F.sum("p").cast("double").alias("y"))
    )
    out = daily.groupBy("nation").applyInPandas(_holt_group, _HOLT_SCHEMA)
    return out.select(
        "nation",
        "n_days",
        F.round("level", 4).alias("level"),
        F.round("trend", 4).alias("trend"),
        F.round("fcst", 4).alias("fcst"),
    ).orderBy("nation")
