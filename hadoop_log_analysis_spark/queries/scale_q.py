"""Scale-posture operators: skew salting and bucketed co-located joins
(SURVEY.md §4 "skew handling" / "shuffle partitioning").

These are result-preserving physical rewrites, so every query here is
fully DuckDB-oracled against the plain formulation — what is being
verified is that the scale machinery does NOT change answers; the
plan-shape benefits (split hot keys, no exchange on bucketed joins)
are asserted in tests/test_plans.py.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_log_analysis_spark.functions import money, money_sum, rate
from hadoop_log_analysis_spark.operators.skew import salted_agg, salted_join
from hadoop_log_analysis_spark.queries import query
from hadoop_log_analysis_spark.scratch import memo, run_dir
from hadoop_log_analysis_spark.sources.catalog import scan


@query(
    "q_salted_agg",
    oracle="""
        SELECT event_type, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("A1", "skew"),
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the 5 hot event_type keys —
    identical answer to the plain GROUP BY (the oracle), but the
    partial phase spreads each hot key over 16 salt groups."""
    # value cast to exact DECIMAL BEFORE the two-phase salted sum, so
    # both the partial per-salt sums and the final merge are exact
    events = scan(spark, sf_dir, "events").withColumn(
        "value", money("value")
    )
    out = salted_agg(
        events,
        keys=["event_type"],
        unique_col="event_id",
        n_salts=16,
        aggs={"n": "count:*", "total": "sum:value"},
    )
    return out.select(
        "event_type", "n", F.col("total").cast("double").alias("total")
    ).orderBy("event_type")


@query(
    "q_salted_join",
    oracle="""
        SELECT c_mktsegment, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    tags=("J2", "skew"),
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-to-dim join (customer replicated 8x, events salted
    deterministically on event_id) — answer equals the plain join."""
    events = scan(spark, sf_dir, "events").select("event_id", "user_id", "value")
    customer = scan(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        events, customer, "user_id", "c_custkey", "event_id", n_salts=8
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), money_sum("value").alias("total"))
        .orderBy("c_mktsegment")
    )


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Names of the bucketed lineitem and orders tables of ``sf_dir``,
    written once per application as external tables under its run
    dirs (nothing lands in the session's warehouse). Each input gets
    its own pair, so two inputs sharing a basename never share one."""

    def write(table: str, kind: str, cols: tuple[str, str]) -> str:
        path = run_dir(spark, kind, sf_dir)
        name = re.sub(r"\W", "_", os.path.basename(path))
        (
            scan(spark, sf_dir, table)
            .select(*cols)
            .write.bucketBy(8, cols[0])
            .sortBy(cols[0])
            .mode("overwrite")
            .option("path", path)
            .saveAsTable(name)
        )
        return name

    return memo(
        spark,
        ("bucketed_tables", sf_dir),
        lambda: (
            write("lineitem", "li_bkt", ("l_orderkey", "l_extendedprice")),
            write("orders", "ord_bkt", ("o_orderkey", "o_orderpriority")),
        ),
    )


@query(
    "q_bucketed_join",
    oracle="""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("J2", "bucketing"),
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketing: lineitem and orders written as
    tables bucketed 8-ways on the join key, then joined WITHOUT a
    shuffle (both sides pre-partitioned identically; the no-Exchange
    plan shape is asserted in tests/test_plans.py). At 100 TB this is
    the amortize-one-shuffle-forever pattern for recurring joins."""
    li_tbl, ord_tbl = bucketed_tables(spark, sf_dir)
    li = spark.table(li_tbl)
    orders = spark.table(ord_tbl)
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            money_sum("l_extendedprice").alias("rev"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_skew_report",
    oracle="""
        WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
        SELECT count(*) AS n_keys,
               CAST(max(n) AS BIGINT) AS max_n,
               round(quantile_cont(n, 0.5), 1) AS med_n,
               round(max(n) / quantile_cont(n, 0.5), 2) AS skew_ratio,
               max_by(user_id, n * 1000000 + user_id) AS hottest_key
        FROM c
    """,
    tags=("skew", "A5", "diagnostic"),
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew DIAGNOSTIC: per-key cardinality profile of a join/agg key
    (max vs median rows per user_id, plus the hottest key,
    deterministically tie-broken). This is the measurement that
    decides whether q_salted_agg/q_salted_join's mitigation is needed
    — measure first, salt second.

    Scale shape: the per-key count is the only corpus-sized pass; the
    profile aggregates |keys| rows. Exact percentile is fine at key
    cardinality; switch to approx_percentile if keys outgrow a
    partition.
    """
    c = (
        scan(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    return c.agg(
        F.count("*").alias("n_keys"),
        F.max("n").alias("max_n"),
        F.round(F.expr("percentile(n, 0.5)"), 1).alias("med_n"),
        F.round(F.max("n") / F.expr("percentile(n, 0.5)"), 2).alias(
            "skew_ratio"
        ),
        F.expr("max_by(user_id, n * 1000000 + user_id)").alias("hottest_key"),
    )


@query(
    "q_observed_metrics",
    oracle="""
        SELECT count(*) AS n_rows,
               count(*) FILTER (WHERE event_type = 'error') AS n_errors,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*) AS avg_value
        FROM events
    """,
    tags=("diagnostic", "A2"),
)
def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline health metrics via ``DataFrame.observe``: row count,
    error count, and mean value are collected as NAMED METRICS on the
    scan itself — zero extra passes, the accumulators ride the one
    action. This is how a 100 TB job reports data-quality counters
    without re-reading anything; the same named metrics surface in
    StreamingQueryProgress for the streaming twin.
    """
    from pyspark.sql import Observation

    obs = Observation("health")
    ev = scan(spark, sf_dir, "events").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
        (money_sum("value") / F.count(F.lit(1))).alias("avg_value"),
    )
    ev.write.format("noop").mode("overwrite").save()  # one real action
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_errors"], m["avg_value"])],
        "n_rows long, n_errors long, avg_value double",
    )


HH_K = 64


@query(
    "q_heavy_hitters",
    oracle=f"""
        WITH t AS (SELECT unnest(string_split(text, ' ')) AS item
                   FROM documents),
             tot AS (SELECT count(*) AS n_total FROM t)
        SELECT item, count(*) AS n
        FROM t, tot
        GROUP BY item, tot.n_total
        HAVING count(*) > tot.n_total // {HH_K + 1}
        ORDER BY n DESC, item
    """,
    tags=("A1", "sketch", "skew"),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent tokens (frequency > corpus/(k+1)) via two-pass
    Misra-Gries: bounded per-partition summaries -> guaranteed
    candidate superset -> broadcast semi-join exact recount
    (operators/sketch.py). The result is EXACT — the sketch only
    prunes — so the oracle is the plain GROUP BY ... HAVING; what the
    plan buys at 100 TB is pass 1 shuffling <= k rows per partition
    instead of each partition's full distinct-value set.

    The fixture vocabulary (~31 tokens) is below k=64, so the
    summaries here never evict; the eviction/superset guarantee under
    real skew is pinned by tests/test_llm_ops.py's synthetic
    hot-key test with k << distinct items.
    """
    from hadoop_log_analysis_spark.operators.sketch import heavy_hitters

    toks = scan(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("item")
    )
    return heavy_hitters(toks, "item", k=HH_K)


ZORDER_BITS = 6  # 64 cells per dimension


def _interleave(xcol, ycol):
    """Morton/Z-order interleave of two ZORDER_BITS-bit ints: bit b of
    x lands at position 2b, bit b of y at 2b+1 — identical integer
    arithmetic to the oracle's shift/mask expression."""
    z = F.lit(0)
    for b in range(ZORDER_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(xcol, b).bitwiseAND(F.lit(1)), 2 * b)
            + F.shiftleft(
                F.shiftright(ycol, b).bitwiseAND(F.lit(1)), 2 * b + 1
            )
        )
    return z


@query(
    "q_zorder_layout",
    oracle="""
        WITH b AS (SELECT min(p_retailprice) AS lo, max(p_retailprice) AS hi
                   FROM part),
         q AS (SELECT p_partkey,
                      least(63, greatest(0, p_size - 1)) AS xb,
                      least(63, CAST(floor((p_retailprice - lo)
                                           / ((hi - lo) / 64 + 1e-9))
                                AS INT)) AS yb
               FROM part, b)
        SELECT p_partkey, xb, yb,
               ((xb >> 0) & 1) * 1    + ((yb >> 0) & 1) * 2
             + ((xb >> 1) & 1) * 4    + ((yb >> 1) & 1) * 8
             + ((xb >> 2) & 1) * 16   + ((yb >> 2) & 1) * 32
             + ((xb >> 3) & 1) * 64   + ((yb >> 3) & 1) * 128
             + ((xb >> 4) & 1) * 256  + ((yb >> 4) & 1) * 512
             + ((xb >> 5) & 1) * 1024 + ((yb >> 5) & 1) * 2048 AS zval
        FROM q
        ORDER BY zval, p_partkey
        LIMIT 100
    """,
    tags=("layout", "zorder", "F3"),
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over two pruning dimensions
    (p_size, binned p_retailprice): interleaving the bits of the two
    6-bit bin ids yields a 1-D sort key whose ordering keeps 2-D
    neighborhoods contiguous — the data-layout primitive behind
    multi-dimensional file skipping. At 100 TB the key feeds
    ``repartitionByRange(zval).sortWithinPartitions(zval)`` before the
    parquet write, so min/max footer stats prune on BOTH dimensions;
    this query verifies the key computation itself (exact integer
    bit arithmetic, identical on both engines) and emits the first
    100 rows of the layout order.

    The y-dimension bin bounds come from a broadcast 1-row min/max
    aggregate — no window, no collect of data rows.
    """
    part = scan(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    )
    bounds = part.agg(
        F.min("p_retailprice").alias("lo"), F.max("p_retailprice").alias("hi")
    )
    q = part.crossJoin(F.broadcast(bounds)).select(
        "p_partkey",
        F.least(F.lit(63), F.greatest(F.lit(0), F.col("p_size") - 1)).alias(
            "xb"
        ),
        F.least(
            F.lit(63),
            F.floor(
                (F.col("p_retailprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 64 + 1e-9)
            ).cast("int"),
        ).alias("yb"),
    )
    return (
        q.select(
            "p_partkey",
            "xb",
            "yb",
            _interleave(F.col("xb"), F.col("yb")).alias("zval"),
        )
        .orderBy("zval", "p_partkey")
        .limit(100)
    )


@query(
    "q_bloom_prefilter_join",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(5,2)))) AS DOUBLE)
                 AS revenue
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_type = 'ECONOMY')
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    tags=("J4", "bloom", "skew"),
)
def q_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered exact semi-join (operators/bloom.py): revenue
    of lineitems whose part is ECONOMY-typed.

    Plan shape under the hood: (1) one bounded aggregate folds the
    ECONOMY part keys into a 2^16-bit Bloom bitmap (driver holds 1 Ki
    longs, independent of data size); (2) the bitmap rides into the
    lineitem scan as an array<long> literal and the xxhash64 triple
    probe drops non-candidate rows MAP-SIDE, inside whole-stage
    codegen, before any exchange; (3) the surviving candidates go
    through a normal exact left-semi join, which removes Bloom false
    positives — so the result equals the oracle's plain IN-subquery
    exactly, while at 100 TB only ~selectivity + fpp of the fact bytes
    reach the verify join's shuffle.

    This is the explicit, plan-assertable twin of Spark's runtime
    row-level Bloom injection (spark.sql.optimizer.runtime.
    bloomFilter.enabled); building it by hand also makes the bitmap
    reusable across queries in a session.
    """
    from hadoop_log_analysis_spark.operators.bloom import bloom_semi_join

    li = scan(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    econ = scan(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    kept = bloom_semi_join(
        li, econ, fact_key="l_partkey", keys_key="p_partkey", m_bits=1 << 16
    )
    return (
        kept.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(
                money("l_extendedprice")
                * (F.lit(1).cast("decimal(5,2)") - rate("l_discount"))
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_join_size_estimate",
    oracle="""
        WITH keys AS (
          SELECT o_custkey AS k FROM orders
          WHERE ((o_custkey % 1000003 * 2654435761) % 1000003) % 4 = 0),
        ev AS (
          SELECT user_id AS k FROM events
          WHERE ((user_id % 1000003 * 2654435761) % 1000003) % 4 = 0),
        est AS (
          SELECT CAST(count(*) AS BIGINT) * 4 AS est_rows
          FROM keys JOIN ev ON keys.k = ev.k),
        act AS (
          SELECT CAST(count(*) AS BIGINT) AS actual_rows
          FROM orders JOIN events ON o_custkey = user_id)
        SELECT est.est_rows, act.actual_rows,
               round(est.est_rows * 1.0 / act.actual_rows, 4) AS ratio
        FROM est CROSS JOIN act
    """,
    tags=("J2", "A4", "scale", "diagnostic"),
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-based join-cardinality estimation — the planning
    diagnostic a pipeline runs BEFORE an expensive fact-fact join to
    pick shuffle partition counts and spot a key-explosion (a ratio
    far from 1 against the known answer would mean correlated keys
    defeated the sampler). The estimator is CORRELATED sampling: both
    sides keep keys in the SAME deterministic hash stratum
    (h(k) % 16 == 0), so a surviving key joins on the full per-key
    multiplicity and E[sample join size] = |join| / 4 — unlike
    independent row sampling, which underestimates by p^2 and loses
    per-key structure. Scaling back by 4 gives an unbiased estimate;
    the query emits estimate, actual, and their ratio, reproducible
    because the "sample" is the shared Knuth multiplicative hash, not
    an RNG. Honesty note on variance: the estimator's error is
    ~1/sqrt(#sampled keys) weighted by per-key multiplicity, so at
    fixture key counts (150 users -> ~37 sampled) the ratio wanders
    (0.56 at sf0.01, 0.86/1.00 at sf0.001/0.1) — at production key
    cardinalities the same stratum concentrates tightly; what the
    oracle verifies is that both engines compute the identical
    estimate, what the ratio column shows is the honest sampling
    error at this scale.

    Scale shape: the estimate touches 1/4 of each side's KEYS (any
    stratum count works; production uses 16-64) — pushdown-friendly
    scan filters, a proportionally smaller shuffle: at 100 TB the
    estimate costs a fraction of the real join. The actual-side join
    here exists only to verify the estimator on fixtures; production
    runs the estimate alone.
    """
    from hadoop_log_analysis_spark.functions import HASH_MOD, HASH_MULT

    stratum = lambda c: ((F.col(c) % HASH_MOD * HASH_MULT) % HASH_MOD) % 4 == 0  # noqa: E731
    orders = scan(spark, sf_dir, "orders")
    ev = scan(spark, sf_dir, "events")
    keys = orders.filter(stratum("o_custkey")).select(
        F.col("o_custkey").alias("k")
    )
    evs = ev.filter(stratum("user_id")).select(F.col("user_id").alias("k"))
    est = keys.join(evs, "k").agg(
        (F.count("*") * 4).cast("long").alias("est_rows")
    )
    act = (
        orders.join(ev, orders["o_custkey"] == ev["user_id"])
        .agg(F.count("*").cast("long").alias("actual_rows"))
    )
    return (
        est.crossJoin(F.broadcast(act))
        .select(
            "est_rows",
            "actual_rows",
            F.round(F.col("est_rows") / F.col("actual_rows"), 4).alias(
                "ratio"
            ),
        )
    )


# --- Resharding cost: mod-N vs consistent-hash ring ----------------------
SHARDS_OLD = 8
SHARDS_NEW = 10
RING_VNODES = 16  # virtual nodes per shard


@query(
    "q_shard_rebalance",
    oracle=f"""
        WITH keys AS (
          SELECT DISTINCT user_id AS k,
                 (user_id % 1000003 * 2654435761) % 1000003 AS p
          FROM events),
        ring AS (
          SELECT s, ((s * 7919 + v + 1) * 2654435761) % 1000003 AS pt
          FROM generate_series(0, {SHARDS_NEW - 1}) t(s),
               generate_series(0, {RING_VNODES - 1}) u(v)),
        succ AS (
          SELECT k.k,
                 coalesce(min(CASE WHEN r.pt >= k.p AND r.s < {SHARDS_OLD}
                                   THEN r.pt END),
                          min(CASE WHEN r.s < {SHARDS_OLD}
                                   THEN r.pt END)) AS apt_old,
                 coalesce(min(CASE WHEN r.pt >= k.p THEN r.pt END),
                          min(r.pt)) AS apt_new
          FROM keys k CROSS JOIN ring r GROUP BY k.k, k.p),
        ring_assign AS (
          SELECT su.k,
                 (SELECT min(s) FROM ring r
                  WHERE r.pt = su.apt_old AND r.s < {SHARDS_OLD}) AS old_s,
                 (SELECT min(s) FROM ring r
                  WHERE r.pt = su.apt_new) AS new_s
          FROM succ su),
        mod_assign AS (
          SELECT k, p % {SHARDS_OLD} AS old_s, p % {SHARDS_NEW} AS new_s
          FROM keys)
        SELECT 'mod' AS method,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(CASE WHEN old_s <> new_s THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_moved,
               round(sum(CASE WHEN old_s <> new_s THEN 1 ELSE 0 END)
                     * 1.0 / count(*), 6) AS moved_frac
        FROM mod_assign
        UNION ALL
        SELECT 'ring',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN old_s <> new_s THEN 1 ELSE 0 END)
                    AS BIGINT),
               round(sum(CASE WHEN old_s <> new_s THEN 1 ELSE 0 END)
                     * 1.0 / count(*), 6)
        FROM ring_assign
        ORDER BY method
    """,
    tags=("A1", "layout", "scale"),
)
def q_shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resharding cost report: when the user-keyed state store scales
    8 -> 10 shards, what fraction of keys MOVE under naive mod-N
    placement vs a consistent-hash ring (16 virtual nodes per shard)?
    Mod-N remaps ~1 - 1/lcm-share of ALL keys (every key whose hash
    changes residue); the ring only hands keys to the two NEW shards
    (~2/10) — the reason state stores, shuffle services, and KV
    caches shard by ring. Both placements use the shared portable
    Knuth hash so the report is engine-identical and re-runnable.

    Scale shape: the corpus-scale work is ONE distinct over user ids;
    the ring is |shards| x |vnodes| = 160 rows, BROADCAST against the
    key set (bounded nested-loop per key, 160 comparisons); successor
    resolution is two aggregate passes (min candidate point, then min
    shard at that point — avoiding engine-specific struct-ordering
    ties). Everything downstream of the distinct is integer-exact.
    """
    keys = (
        scan(spark, sf_dir, "events")
        .select(F.col("user_id").alias("k"))
        .distinct()
        .withColumn(
            "p", (F.col("k") * F.lit(2654435761).cast("long")) % 1000003
        )
    )
    ring = (
        spark.range(SHARDS_NEW)
        .select(F.col("id").cast("int").alias("s"))
        .crossJoin(
            spark.range(RING_VNODES).select(F.col("id").cast("int").alias("v"))
        )
        .select(
            "s",
            (
                ((F.col("s") * F.lit(7919) + F.col("v") + F.lit(1))
                 * F.lit(2654435761).cast("long"))
                % 1000003
            ).alias("pt"),
        )
    )
    old_ring = F.col("s") < SHARDS_OLD
    succ = (
        keys.crossJoin(F.broadcast(ring))
        .groupBy("k", "p")
        .agg(
            F.coalesce(
                F.min(
                    F.when(
                        (F.col("pt") >= F.col("p")) & old_ring, F.col("pt")
                    )
                ),
                F.min(F.when(old_ring, F.col("pt"))),
            ).alias("apt_old"),
            F.coalesce(
                F.min(F.when(F.col("pt") >= F.col("p"), F.col("pt"))),
                F.min("pt"),
            ).alias("apt_new"),
        )
    )
    old_shard = ring.filter(old_ring).groupBy("pt").agg(
        F.min("s").alias("old_s")
    )
    new_shard = ring.groupBy(F.col("pt").alias("pt_n")).agg(
        F.min("s").alias("new_s")
    )
    ring_assign = succ.join(
        F.broadcast(old_shard), F.col("apt_old") == F.col("pt")
    ).join(F.broadcast(new_shard), F.col("apt_new") == F.col("pt_n"))
    moved = F.sum(
        (F.col("old_s") != F.col("new_s")).cast("long")
    )
    frac = F.round(moved * F.lit(1.0) / F.count("*"), 6)
    mod_assign = keys.select(
        (F.col("p") % SHARDS_OLD).alias("old_s"),
        (F.col("p") % SHARDS_NEW).alias("new_s"),
    )
    mod_row = mod_assign.agg(
        F.lit("mod").alias("method"),
        F.count("*").cast("long").alias("n_keys"),
        moved.cast("long").alias("n_moved"),
        frac.alias("moved_frac"),
    )
    ring_row = ring_assign.agg(
        F.lit("ring").alias("method"),
        F.count("*").cast("long").alias("n_keys"),
        moved.cast("long").alias("n_moved"),
        frac.alias("moved_frac"),
    )
    return mod_row.unionByName(ring_row).orderBy("method")


# --- Compaction planner ---------------------------------------------------
ROW_BYTES = 200  # modeled on-disk bytes per event row
TARGET_BYTES = 128_000  # target compacted file size at this scale


@query(
    "q_compaction_plan",
    oracle=f"""
        WITH part AS (
          SELECT epoch_ns(ts) // 86400000000000 AS day,
                 count(*) * {ROW_BYTES} AS bytes
          FROM events GROUP BY day),
        small AS (
          SELECT day, bytes,
                 coalesce(sum(bytes) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_before
          FROM part WHERE bytes < {TARGET_BYTES})
        SELECT CAST(cum_before // {TARGET_BYTES} AS BIGINT) AS grp,
               CAST(count(*) AS BIGINT) AS n_partitions,
               CAST(min(day) AS BIGINT) AS day_from,
               CAST(max(day) AS BIGINT) AS day_to,
               CAST(sum(bytes) AS BIGINT) AS group_bytes,
               floor((sum(bytes) * 1.0 / {TARGET_BYTES}) * 10000.0 + 0.5)
                 / 10000.0 AS fill_ratio
        FROM small
        GROUP BY grp
        ORDER BY grp
    """,
    tags=("A1", "layout", "scale"),
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: model per-day partition sizes
    (rows x bytes/row), keep the partitions under the target file
    size, and pack ADJACENT small partitions into compaction groups
    by cumulative-size binning (group = exclusive-running-total div
    target) — contiguity preserved so day-range predicates still
    prune the compacted files. The report a lake-maintenance job
    (OPTIMIZE / rewriteDataFiles) consumes: which days merge, into
    how many files, at what fill ratio.

    Scale shape: the corpus contributes ONE (day) hash agg; the plan
    runs on the |days| frame — its ordered window is calendar-bounded
    (the safe unpartitioned case; at multi-decade scale partition the
    window by year). All arithmetic is integer bytes; groups and fill
    ratios are exact on both engines.
    """
    part = (
        scan(spark, sf_dir, "events")
        .groupBy(F.expr("ts_ns div 86400000000000").alias("day"))
        .agg((F.count("*") * ROW_BYTES).alias("bytes"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    small = part.filter(F.col("bytes") < TARGET_BYTES).withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    )
    return (
        small.groupBy(
            F.expr(f"cum_before div {TARGET_BYTES}").cast("long").alias("grp")
        )
        .agg(
            F.count("*").cast("long").alias("n_partitions"),
            F.min("day").cast("long").alias("day_from"),
            F.max("day").cast("long").alias("day_to"),
            F.sum("bytes").cast("long").alias("group_bytes"),
            # floor-based 4-dp pin: an exact byte ratio can sit ON a
            # decimal midpoint (sum/2^k denominators divide 10^5),
            # where engine round() tie-breaks diverge.
            (
                F.floor(
                    (F.sum("bytes") * 1.0 / TARGET_BYTES)
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("fill_ratio"),
        )
        .orderBy("grp")
    )


# --- ID-gap report ----------------------------------------------------------
GAP_BLOCK = 1000  # id-space block size


@query(
    "q_id_gap_report",
    oracle=f"""
        WITH ids AS (
          SELECT event_id AS id FROM events
          WHERE event_type = 'purchase'),
        b AS (
          SELECT id // {GAP_BLOCK} AS block,
                 count(*) AS present,
                 min(id) AS lo,
                 max(id) AS hi
          FROM ids GROUP BY block),
        bounds AS (
          SELECT min(id) AS gmin, max(id) AS gmax FROM ids),
        r AS (
          SELECT b.block, b.present, b.lo, b.hi,
                 CASE WHEN b.block = bo.gmin // {GAP_BLOCK}
                      THEN bo.gmin
                      ELSE b.block * {GAP_BLOCK} END AS span_lo,
                 CASE WHEN b.block = bo.gmax // {GAP_BLOCK}
                      THEN bo.gmax
                      ELSE b.block * {GAP_BLOCK} + {GAP_BLOCK} - 1
                      END AS span_hi
          FROM b CROSS JOIN bounds bo)
        SELECT CAST(block AS BIGINT) AS block,
               CAST(present AS BIGINT) AS present,
               CAST(span_hi - span_lo + 1 - present AS BIGINT) AS missing,
               CAST(lo AS BIGINT) AS lo,
               CAST(hi AS BIGINT) AS hi
        FROM r
        WHERE span_hi - span_lo + 1 - present > 0
        ORDER BY block
    """,
    tags=("A1", "governance", "diagnostic", "scale"),
)
def q_id_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID-space gap report: per 1000-id block of the purchase-event
    id space, how many ids are MISSING (vs the block's expected span,
    edge blocks clipped to the observed min/max) — the sequence-audit
    that surfaces failed ingest batches, purged ranges, or generator
    skips without ever comparing adjacent rows. (The purchase subset
    is the audited "table": its ids legitimately skip — the fixture's
    order keys are fully dense at every SF, which would make the
    report trivially empty evidence.)

    Scale shape: gap detection by ADJACENCY (lead/lag over the sorted
    id space) needs a corpus-scale ordered window; the block-count
    formulation is ONE hash agg (map-side combinable) plus block
    algebra against two broadcast scalars — missing = span - present
    per block, exact integers. Block size trades report resolution
    against report size (|id-range|/1000 rows).
    """
    ids = (
        scan(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("id"))
    )
    b = ids.groupBy(F.expr(f"id div {GAP_BLOCK}").alias("block")).agg(
        F.count("*").alias("present"),
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
    )
    bounds = ids.agg(
        F.min("id").alias("gmin"), F.max("id").alias("gmax")
    )
    r = b.crossJoin(F.broadcast(bounds)).select(
        "block",
        "present",
        "lo",
        "hi",
        F.when(
            F.col("block") == F.expr(f"gmin div {GAP_BLOCK}"), F.col("gmin")
        )
        .otherwise(F.col("block") * GAP_BLOCK)
        .alias("span_lo"),
        F.when(
            F.col("block") == F.expr(f"gmax div {GAP_BLOCK}"), F.col("gmax")
        )
        .otherwise(F.col("block") * GAP_BLOCK + GAP_BLOCK - 1)
        .alias("span_hi"),
    )
    missing = F.col("span_hi") - F.col("span_lo") + 1 - F.col("present")
    return (
        r.select(
            F.col("block").cast("long").alias("block"),
            F.col("present").cast("long").alias("present"),
            missing.cast("long").alias("missing"),
            F.col("lo").cast("long").alias("lo"),
            F.col("hi").cast("long").alias("hi"),
        )
        .filter(F.col("missing") > 0)
        .orderBy("block")
    )


@query(
    "q_partition_digest",
    oracle="""
        WITH d AS (
          SELECT epoch_ns(ts) // 86400000000000 AS day,
                 ((event_id % 1000003 * 2654435761 + user_id) % 1000003) AS h
          FROM events)
        SELECT CAST(day AS BIGINT) AS day,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(h) AS BIGINT) AS digest_sum,
               CAST(sum(h * h) % 9007199254740881 AS BIGINT)
                 AS digest_sq
        FROM d
        GROUP BY day
        ORDER BY day
    """,
    tags=("A1", "layout", "scale", "diagnostic"),
)
def q_partition_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition content digests: for each day partition, the row
    count plus order-independent checksums (sum and mod-reduced
    sum-of-squares of a portable row hash) — the cheap reconciliation
    primitive behind incremental sync: two sides compare |partitions|
    digest rows instead of any data, and only partitions whose
    digests differ get re-shipped (q_snapshot_diff classifies
    aggregate changes; digests detect ANY row-level change, including
    compensating ones that leave aggregates intact — the sum alone
    misses swap-like edits, hence the second moment).

    Scale shape: a map-side-combinable hash agg — commutative
    checksums are exactly the aggregates that combine in any order;
    the digest is the shared Knuth hash so any engine (or a
    DuckDB-side auditor) reproduces it bit-identically. Sum-of-squares
    is reduced mod a sub-2^53 prime so both engines stay in exact
    integer range: h < 1000003 so h*h < 2^40, and partial sums are
    reduced only at the final aggregate — per-partition row counts up
    to ~2^13 partial terms stay exact; at bigger partitions reduce
    per-term (documented trade, same oracle).
    """
    d = scan(spark, sf_dir, "events").select(
        F.expr("ts_ns div 86400000000000").alias("day"),
        (
            (F.col("event_id") % 1000003 * F.lit(2654435761).cast("long")
             + F.col("user_id"))
            % 1000003
        ).alias("h"),
    )
    return (
        d.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("h").cast("long").alias("digest_sum"),
            (F.sum(F.col("h") * F.col("h")) % F.lit(9007199254740881))
            .cast("long")
            .alias("digest_sq"),
        )
        .select(
            F.col("day").cast("long").alias("day"),
            "n_rows",
            "digest_sum",
            "digest_sq",
        )
        .orderBy("day")
    )


@query(
    "q_column_stats",
    oracle="""
        SELECT 'l_quantity' AS col,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(l_quantity) AS BIGINT) AS n_nonnull,
               CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv,
               round(min(l_quantity), 2) AS min_v,
               round(max(l_quantity), 2) AS max_v,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / count(l_quantity) AS mean_v
        FROM lineitem
        UNION ALL
        SELECT 'l_discount',
               CAST(count(*) AS BIGINT),
               CAST(count(l_discount) AS BIGINT),
               CAST(count(DISTINCT l_discount) AS BIGINT),
               round(min(l_discount), 2), round(max(l_discount), 2),
               CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                 / count(l_discount)
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice',
               CAST(count(*) AS BIGINT),
               CAST(count(l_extendedprice) AS BIGINT),
               CAST(count(DISTINCT l_extendedprice) AS BIGINT),
               round(min(l_extendedprice), 2),
               round(max(l_extendedprice), 2),
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(l_extendedprice)
        FROM lineitem
        ORDER BY col
    """,
    tags=("A2", "A3", "layout", "scale"),
)
def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics for the fact table's numeric
    columns: row/non-null/NDV counts, min/max bounds, and means — the
    statistics a cost-based optimizer feeds on (join reordering and
    broadcast decisions are only as good as NDV and bounds; this is
    the query behind `ANALYZE TABLE ... COMPUTE STATISTICS FOR
    COLUMNS`, expressed on the engine's own surface).

    Scale shape: ONE scan computing all three columns' statistics in
    a single multi-aggregate pass on the Spark side (the oracle's
    three-scan UNION is DuckDB-side spec; the plan test pins one
    scan). Exact count(DISTINCT) on multiple columns expands rows
    (Spark's expand-based multi-distinct); swap to approx_count_
    distinct's HLL at 100 TB — same plan shape, documented trade.
    """
    cols = ("l_quantity", "l_discount", "l_extendedprice")
    li = scan(spark, sf_dir, "lineitem").select(*cols)
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).cast("long").alias(f"{c}__nn"),
            F.countDistinct(c).cast("long").alias(f"{c}__ndv"),
            F.round(F.min(c), 2).alias(f"{c}__min"),
            F.round(F.max(c), 2).alias(f"{c}__max"),
            # exact DECIMAL sum / non-null count: ONE identical division
            (money_sum(c) / F.count(c)).alias(f"{c}__mean"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nn, {c}__ndv, {c}__min, {c}__max, {c}__mean"
        for c in cols
    )
    return (
        wide.select(
            "n_rows",
            F.expr(
                f"stack({len(cols)}, {stack})"
                " as (col, n_nonnull, ndv, min_v, max_v, mean_v)"
            ),
        )
        .select(
            "col", "n_rows", "n_nonnull", "ndv", "min_v", "max_v", "mean_v"
        )
        .orderBy("col")
    )
