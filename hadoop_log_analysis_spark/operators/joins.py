"""Join operators Spark lacks natively (SURVEY.md §2.3 J7).

``asof_join`` — for each left row, attach the payload of the latest
right row with ``right.ts <= left.ts`` (optionally per equality key).
Spark has no ASOF JOIN operator; a naive implementation range-joins
all candidates then ranks (O(candidates) shuffle). This one uses the
union + ordered-window + last(ignorenulls) formulation instead:

  union(left, right) -> window over (by, ts, is_left) -> carry last
  non-null right payload forward -> keep left rows

which is a single shuffle of |L|+|R| rows and streams through the
window operator — the same merge-scan shape dedicated engines use.

Scale note (100 TB): with ``by`` keys the window partitions by key and
parallelizes fully (skewed keys: AQE handles the shuffle; the window
itself is per-key sequential, as asof semantics require). Without
``by`` keys the r1/r2 implementation ran one serial SinglePartition
window; since r3 the keyless path is the two-phase range-bucket plan:

1. bucket every unioned row by driver-computed ts quantile boundaries
   (embedded as literals, so every plan branch sees the SAME split —
   no repartitionByRange/partition-id nondeterminism to pin);
2. carry last-non-null payload per bucket in parallel (window
   partitioned by bucket);
3. compute each bucket's final carried values (max_by over the
   in-bucket row_number) — <= |buckets| rows — prefix-carry those in
   one tiny window, and broadcast the result back as each bucket's
   boundary seed, coalesced under the local carry.

Exactness does not depend on the boundary choice (any split yields
the same answer), so approxQuantile's approximation only balances
load. Residual bound: a single ts value with massive multiplicity
lands in one bucket (the usual tie-class caveat).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_log_analysis_spark.scratch import memo

_MARK = "__asof_right_ts"
_SRC = "__asof_is_left"
_RTIE = "__asof_right_tie"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str,
    by: Sequence[str] = (),
    payload: Sequence[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """As-of join: latest right row with ``right[ts_col] <= left[ts_col]``.

    Both sides must share ``ts_col`` (and ``by``) names; ``payload``
    columns (default: all non-key right columns) must not collide with
    left columns. ``how`` is 'inner' (drop unmatched left rows) or
    'left' (keep them with null payload).
    """
    by = list(by)
    if payload is None:
        payload = [c for c in right.columns if c not in {*by, ts_col}]
    payload = list(payload)
    left_cols = list(left.columns)

    l_side = (
        left.withColumn(_SRC, F.lit(1))
        .withColumn(_MARK, F.lit(None).cast("long"))
        .withColumn(_RTIE, F.lit(None).cast("long"))
    )
    for p in payload:
        l_side = l_side.withColumn(p, F.lit(None).cast(right.schema[p].dataType))

    # Deterministic tie-break for right rows sharing (by, ts): a stable
    # content hash, so which tied payload gets carried is arbitrary-
    # but-REPRODUCIBLE across runs and partitionings (r4 review; the
    # keyless path's _keyless_carry has the analogous tie discipline).
    # Cross-engine, a tie remains oracle-undefined — DuckDB's ASOF JOIN
    # picks its own arbitrary row — so oracle-compared queries must not
    # rely on tied right timestamps (the fixtures' ns resolution makes
    # them unobserved there).
    r_side = (
        right.select(*by, ts_col, *payload)
        .withColumn(_SRC, F.lit(0))
        .withColumn(_MARK, F.col(ts_col).cast("long"))
        .withColumn(_RTIE, F.xxhash64(ts_col, *payload))
    )
    for c in left_cols:
        if c not in {*by, ts_col}:
            r_side = r_side.withColumn(c, F.lit(None).cast(left.schema[c].dataType))

    ordered_cols = l_side.columns
    unioned = l_side.unionByName(r_side.select(*ordered_cols))

    carry_cols = [*payload, _MARK]
    if by:
        # Right rows sort BEFORE left rows at equal ts (asof is <=).
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(ts_col).asc(), F.col(_SRC).asc(), F.col(_RTIE).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = unioned
        for p in carry_cols:
            carried = carried.withColumn(p, F.last(p, ignorenulls=True).over(w))
    else:
        carried = _keyless_carry(unioned, ts_col, carry_cols)

    out = carried.filter(F.col(_SRC) == 1)
    if how == "inner":
        out = out.filter(F.col(_MARK).isNotNull())
    elif how != "left":
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    return out.select(*left_cols, *payload)


_BKT = "__asof_bkt"
_TB = "__asof_tb"


def _tie_break(unioned: DataFrame, ts_col: str, carry_cols: Sequence[str]):
    """Deterministic per-row tie-break hash over (ts, carried values):
    duplicate right-side (ts, src) keys at a bucket boundary would
    otherwise let the in-bucket last() pick and the boundary-seed
    max_by pick choose DIFFERENT tied payloads (ADVICE r3
    joins.py:163). Rows colliding in this hash are value-identical in
    every carried column, where the pick cannot matter. Map-typed
    payloads hash via their JSON image (xxhash64 rejects raw maps)."""
    from pyspark.sql import types as T

    parts = []
    for c in (ts_col, *carry_cols):
        if isinstance(unioned.schema[c].dataType, T.MapType):
            parts.append(F.to_json(F.struct(F.col(c))))
        else:
            parts.append(F.col(c))
    return F.xxhash64(*parts)


def _keyless_carry(
    unioned: DataFrame,
    ts_col: str,
    carry_cols: Sequence[str],
    n_buckets: int | None = None,
) -> DataFrame:
    """Parallel last-non-null carry over a single global (ts, src,
    tie-break) order — module docstring's two-phase range-bucket plan."""
    spark = unioned.sparkSession
    n_buckets = n_buckets or spark.sparkContext.defaultParallelism
    tnum = F.col(ts_col).cast("double")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # Driver-side boundary literals: exactness is split-invariant, so
    # the quantile approximation only balances load — which is why a
    # seeded 5% column-pruned sample suffices for the boundary job
    # (the one extra action this plan runs). Memoized per application,
    # analyzed-plan semantic hash and n_buckets, so repeated asof
    # calls on the same input skip the job entirely (VERDICT r3 "Next
    # round" #8). Dedupe (heavy ties collapse adjacent boundaries;
    # constant ts degrades to 1 bucket = the old serial plan, which is
    # then also the only correct one).
    def probe() -> list[float]:
        probed = (
            unioned.select(tnum.alias("__asof_tnum"))
            .sample(fraction=0.05, seed=7)
        )
        return sorted(
            set(probed.stat.approxQuantile("__asof_tnum", probs, 0.01))
        )

    semantic = unioned._jdf.queryExecution().analyzed().semanticHash()
    bounds = memo(spark, ("asof_bounds", semantic, n_buckets), probe)
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + F.when(tnum >= F.lit(b), F.lit(1)).otherwise(F.lit(0))
    # Deliberately NOT checkpointed: the three consumers (carry window,
    # boundary-seed aggregate, final join) replay a column-pruned
    # two-scan union, which is cheaper than materializing the full
    # union — locally (measured: checkpoint saves nothing, fixed stage
    # overhead dominates) and at 100 TB (scan-twice beats write-once +
    # read-twice for narrow projections).
    bucketed = unioned.withColumn(
        _TB, _tie_break(unioned, ts_col, carry_cols)
    ).withColumn(_BKT, bucket.cast("int"))

    order = (F.col(ts_col).asc(), F.col(_SRC).asc(), F.col(_TB).asc())
    wl = (
        Window.partitionBy(_BKT)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = bucketed
    for p in carry_cols:
        carried = carried.withColumn(p, F.last(p, ignorenulls=True).over(wl))
    # Each bucket's final carried state computed from the RAW bucketed
    # rows (max_by over non-null payloads — a partial-aggregating hash
    # agg), NOT from `carried`: deriving it there would re-execute the
    # whole sort+window subtree a second time (measured 2x). Then
    # prefix-carry across the <= n_buckets summary rows and broadcast
    # back as each bucket's boundary seed.
    finals = bucketed.groupBy(_BKT).agg(
        *[
            F.max_by(
                F.col(p),
                F.when(
                    F.col(p).isNotNull(),
                    F.struct(F.col(ts_col), F.col(_SRC), F.col(_TB)),
                ),
            ).alias(f"__fin_{p}")
            for p in carry_cols
        ]
    )
    wb = Window.orderBy(_BKT).rowsBetween(Window.unboundedPreceding, -1)
    seeds = finals.select(
        _BKT,
        *[
            F.last(F.col(f"__fin_{p}"), ignorenulls=True)
            .over(wb)
            .alias(f"__seed_{p}")
            for p in carry_cols
        ],
    )
    out = carried.join(F.broadcast(seeds), _BKT, "left")
    for p in carry_cols:
        out = out.withColumn(p, F.coalesce(F.col(p), F.col(f"__seed_{p}")))
    return out.drop(_BKT, _TB, *[f"__seed_{p}" for p in carry_cols])
