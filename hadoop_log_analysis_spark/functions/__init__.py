"""Shared scalar expression helpers (SURVEY.md §2.7)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ts_us(col: str = "ts_ns") -> Column:
    """Event time as integer epoch MICROseconds.

    The exact cross-engine time unit: DuckDB 1.0.0 truncates the
    fixtures' ns timestamps to µs on read (`epoch_us(ts)`), and
    integer `div 1000` on the raw nanos matches that truncation
    exactly. Use this — never raw ns — in any oracle-compared
    ordering, gap, or range boundary.
    """
    return F.expr(f"{col} div 1000")


# The cross-engine integer pseudo-random: Knuth's multiplicative-hash
# constant and a prime modulus, computable bit-identically in BOTH
# engines (Spark's xxhash64 and DuckDB's hash() are different
# functions, so neither may appear in an oracle-checked sampler).
# SINGLE definition — q_weighted_sample, q_train_val_test_split, and
# q_bootstrap_ci all alias these (r4 review: three divergent copies
# risked a fix landing in one site only).
# DISCIPLINE (r10, sf1-probe finding): ALWAYS reduce the id mod
# HASH_MOD BEFORE multiplying — `id % HASH_MOD * HASH_MULT` is
# congruent to `id * HASH_MULT` under the final % HASH_MOD (identical
# values wherever both compute), but the unreduced form wraps int64
# once ids pass 2^63 / HASH_MULT ~ 3.5e9 (q_bootstrap_ci raised
# ARITHMETIC_OVERFLOW on the sf1 probe's shifted event_ids).
HASH_MULT = 2654435761
HASH_MOD = 1_000_003


def subus_key(ts_us_col: Column, id_col: str = "event_id") -> Column:
    """Collision-RESISTANT sub-microsecond ordering key: ``µs*100 + id%100``.

    Truncating ns timestamps to µs can collapse two events onto one
    instant, where argmin/argmax/as-of tie-breaks would diverge
    across engines; folding the low id digits into the sub-µs slot
    disambiguates them while preserving time order. NOT absolutely
    unique (r8 review): two events in the same truncated µs whose ids
    are congruent mod 100 still collide — the residual risk is
    P(same µs) x P(id≡ mod 100), verified absent in the fixtures by
    tests/test_properties.py::test_subus_key_unique_in_fixtures; any
    comparison keyed on this MUST keep that test green at new SFs.
    Safe range: epoch-µs ~1.7e15 * 100 = 1.7e17 < 2^63. Mirror in
    oracles with ``epoch_us(ts) * 100 + event_id % 100``.
    """
    return ts_us_col * 100 + F.col(id_col) % 100


def pin(col: Column, dp: int) -> Column:
    """Algorithm-explicit decimal pin: ``floor(x * 10^dp + 0.5) / 10^dp``.

    The cross-engine-safe replacement for ``F.round`` in any
    oracle-hash-compared output (r7, VERDICT r6 "Next round" #7):
    Spark's round() is BigDecimal-of-shortest-string HALF_UP while
    DuckDB's is nearbyint(x*10^dp) half-even — two different
    ALGORITHMS that diverge on the same double whenever the value
    sits on an exact decimal midpoint, which ratios of small integer
    counts (k/32, k/128, k/160...) hit deterministically. floor has
    no tie-break rule: identical doubles in, identical doubles out.
    Mirror in the oracle with ``floor((expr) * 10000.0 + 0.5) /
    10000.0`` (see sql_pin).
    """
    g = float(10**dp)
    return F.floor(col * F.lit(g) + F.lit(0.5)) / F.lit(g)


def sql_pin(expr: str, dp: int) -> str:
    """DuckDB mirror of :func:`pin` for oracle strings."""
    g = f"{float(10 ** dp):.1f}"
    return f"floor(({expr}) * {g} + 0.5) / {g}"


def exact_avg(col: Column | str, dp: int) -> Column:
    """Order-free cross-engine AVG of a double column (aggregate).

    ``avg(x)`` over doubles is partition-order-dependent (float sums
    don't commute), so even a pinned final avg pins two engines'
    slightly-different doubles — the q_embedding_covariance r5/r6
    lesson. This pins EACH ROW to the 1e-dp integer grid first
    (identical per-row doubles -> identical grid ints), accumulates
    as exact order-free int64, and performs ONE double division by
    count * 10^dp — bit-identical on both engines by construction.
    Mirror in the oracle as ``CAST(sum(CAST(floor((x) * G + 0.5) AS
    BIGINT)) AS DOUBLE) / (CAST(count(x) AS DOUBLE) * G)`` with
    G = 10^dp written as a double literal. int64 headroom:
    |x| * 10^dp * rows must stay < 2^63 (~9.2e18) — holds for
    bounded ratios/scores at dp<=6 up to ~1e12 rows.

    NULL semantics match AVG (r9 ADVICE fix): the divisor is the
    NON-NULL count of the column, so NULL terms are skipped from both
    the sum and the count rather than silently deflating the mean.
    """
    g = float(10**dp)
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.floor(c * F.lit(g) + F.lit(0.5)).cast("long")).cast(
        "double"
    ) / (F.count(c).cast("double") * F.lit(g))


def exact_avg_wide(col: Column | str, dp: int) -> Column:
    """:func:`exact_avg` with DECIMAL(38,0) accumulation — the
    headroom-gate escalation path for terms whose |term| * 10^dp *
    rows product nears 2^63 (tests/test_headroom.py flags those; the
    first real case was q_try_divide's price/discount ratios, max
    ~1.05e7 at dp=4 over 3e5-row groups = 3.2e16). The per-row grid
    integer is exact in double (< 2^53) and exact in the DECIMAL cast;
    the sum then holds to ~1e38. Oracle strings keep the
    :func:`exact_avg` shape — DuckDB already promotes sum(BIGINT) to
    HUGEINT, so it was exact all along; this brings the Spark side to
    the same bound instead of wrapping at 2^63.
    """
    g = float(10**dp)
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(
        F.floor(c * F.lit(g) + F.lit(0.5)).cast("decimal(38,0)")
    ).cast("double") / (F.count(c).cast("double") * F.lit(g))


def money(col: Column | str) -> Column:
    """Exact DECIMAL(18,2) view of a 2-dp money double.

    The fixtures' money columns (o_totalprice, l_extendedprice,
    *_acctbal, events.value, l_discount/l_tax) are 2-dp decimals
    stored as the nearest double; casting back to DECIMAL(18,2)
    recovers the exact decimal identically on both engines (the
    stored double is never ON a 2-dp midpoint — exact midpoints have
    exact binary representations and exact casts). All downstream
    arithmetic on the decimal is exact and order-free, eliminating
    the round(sum(double)) fragility class the sf0.1 sweep falsified
    in q_hhi_concentration (BASELINE.md r6 addendum 3). Mirror in
    oracles with ``CAST(c AS DECIMAL(18,2))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def rate(col: Column | str) -> Column:
    """Exact DECIMAL(5,2) view of a 2-dp rate double (discount/tax).

    Use in revenue expressions: ``money(price) * (F.lit(1).cast(
    "decimal(5,2)") - rate(disc))`` is exact DECIMAL(24,4) per line
    (the q_hhi_concentration idiom). Mirror in oracles with
    ``(1 - CAST(d AS DECIMAL(5,2)))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(5,2)")


def dec_sum_double(term: Column, dp: int) -> Column:
    """Exact-decimal sum emitted as double WITHOUT the 2^53 cast cliff.

    ``F.sum(decimal).cast("double")`` and DuckDB's
    ``CAST(sum(decimal) AS DOUBLE)`` agree only while the sum's integer
    significand (value * 10^dp) stays under 2^53: Spark's cast is a
    correctly-rounded BigDecimal->double, DuckDB's goes
    significand->double then / 10^scale — two roundings. First
    falsified by the sf1 scale probe on q_pricing_summary's 6-dp
    sum_charge (significand 2.79e16; sf0.1's 2.8e15 sat just under the
    cliff): Spark 27864155010.94159 vs DuckDB ...941593.

    This emission makes BOTH engines take the identical two-step path:
    accumulate the exact integer significand in DECIMAL(38,0) /
    HUGEINT (both exact to ~1e38), convert int->double (IEEE
    round-to-nearest on both), then divide by 10^dp in double
    (identical operands, identical IEEE division). Identical by
    construction at ANY scale, and bit-identical to the direct cast
    below 2^53 (where int->double is exact and the single division is
    the correctly-rounded quotient). ``term`` must be an exact decimal
    of scale <= dp. Mirror with :func:`sql_dec_sum_double`.
    """
    g = 10**dp
    return F.sum(
        (term * F.lit(g)).cast("decimal(38,0)")
    ).cast("double") / F.lit(float(g))


def sql_dec_sum_double(expr: str, dp: int) -> str:
    """DuckDB mirror of :func:`dec_sum_double` for oracle strings."""
    g = 10**dp
    return (
        f"CAST(sum(CAST(({expr}) * {g} AS HUGEINT)) AS DOUBLE) / {g}.0"
    )


def money_sum(col: Column | str) -> Column:
    """Order-free money total: exact DECIMAL sum displayed as double,
    emitted through the scale-proof two-step path.

    Replaces ``F.round(F.sum(money_double), 2)``: the double sum can
    land within an ulp of a 2-dp boundary and flip with accumulation
    order (observed at sf0.1); the decimal sum is exact. The emission
    is :func:`dec_sum_double` at dp=2 (r11, closing the sf1 probe
    finding #1's residual): the previous ``F.sum(decimal).cast(
    "double")`` was Spark's correctly-rounded ONE-step BigDecimal cast,
    which agrees with DuckDB's two-step (significand->double, then
    /100) only while the sum's integer significand stays under 2^53 —
    ~sf300 for the fixtures' money mass (tests/test_headroom.py money
    audit). The two-step emission is bit-identical to the one-step
    below 2^53 (int->double exact, one correctly-rounded division) and
    identical-by-construction to DuckDB at ANY scale. Mirror in
    oracles with the one-step ``CAST(sum(CAST(x AS DECIMAL(18,2))) AS
    DOUBLE)``: in DuckDB that cast already lowers to significand->double
    then /scale, the same machine ops as :func:`sql_dec_sum_double`'s
    explicit HUGEINT form, so it equals the two-step at any scale; it
    was SPARK's one-step that diverged past 2^53.
    """
    return dec_sum_double(money(col), 2)


def exact_sum(col: Column | str, dp: int) -> Column:
    """Order-free cross-engine SUM of computed double terms.

    Per-row 1e-dp grid pin -> exact int64 accumulation -> ONE double
    division by 10^dp (the :func:`exact_avg` recipe without the
    count): for sums of per-row float expressions (log terms, scores)
    whose engine float sum is partition-order-dependent. Mirror in the
    oracle as ``CAST(sum(CAST(floor((x) * G + 0.5) AS BIGINT)) AS
    DOUBLE) / G`` with G = 10^dp written as a double literal. Same
    int64 headroom note as exact_avg.
    """
    g = float(10**dp)
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.floor(c * F.lit(g) + F.lit(0.5)).cast("long")).cast(
        "double"
    ) / F.lit(g)


# --- exact second-moment sufficient statistics (DECIMAL tier) ---------
#
# The int64 shape n*sum(x*x) - sum(x)^2 overflows QUADRATICALLY in group
# size (r8 ADVICE: ~2e16 at sf0.1 leaves only ~460x headroom — binds
# near sf2-10, nowhere near the linear exact_sum bound). Worse, DuckDB
# silently promotes sum(BIGINT) to HUGEINT (exact to ~1.7e38) while
# Spark's long sum wraps, so past the bound the engines DIVERGE instead
# of failing together. These helpers keep the Spark side exact to ~1e38
# by casting per-row terms to DECIMAL(18,0) before the product (per-row
# squares of count-valued columns — daily counts ~1e9 at 100 TB — are
# themselves near the long limit) and accumulating/multiplying in
# DECIMAL: sum(DECIMAL(37,0)) -> DECIMAL(38,0); the n*S2 and S1*S1
# products cap at precision 38 and hold exactly while the VALUE stays
# under 1e38 (n*S2 <= 1e12 rows * (1e6 cents)^2 * 1e12 ~ 1e36 — same
# order DuckDB's HUGEINT binds, so both engines now share one bound).
# Oracle strings need NO change: DuckDB was already exact. The final
# cast-to-double of the same exact integer is IEEE round-to-nearest on
# both engines — bit-identical by construction.

_DEC18 = "decimal(18,0)"


def dsum(col: Column) -> Column:
    """Exact DECIMAL sum of an integer-valued column (first moment S1).

    ``sum(long)`` wraps at 2^63; DuckDB's promotes to HUGEINT. Casting
    per-row to DECIMAL(18,0) makes Spark's sum DECIMAL(28,0)-exact.
    """
    return F.sum(col.cast(_DEC18))


def dsum2(x: Column, y: Column | None = None) -> Column:
    """Exact DECIMAL sum of a product (second moment S2 / co-moment Sxy).

    Operands are cast to DECIMAL(18,0) BEFORE the multiply — per-row
    squares of count-valued columns overflow long on their own at
    extreme scale — giving DECIMAL(37,0) per row, DECIMAL(38,0) sum.
    """
    y = x if y is None else y
    return F.sum(x.cast(_DEC18) * y.cast(_DEC18))


def exact_comoment(x: Column, y: Column | None = None) -> Column:
    """Exact ``n*sum(x*y) - sum(x)*sum(y)`` as a DECIMAL aggregate.

    The shared numerator of variance (y=x), covariance, and Pearson r
    over integer-valued columns. Cast to double ONCE at the use site;
    mirror in oracles with the plain int64 SQL shape
    ``count(*) * sum(x*y) - sum(x) * sum(y)`` (DuckDB accumulates it
    in HUGEINT — already exact, no oracle change needed).
    """
    y = x if y is None else y
    n = F.count("*").cast("decimal(14,0)")
    return n * dsum2(x, y) - dsum(x) * dsum(y)


def equal_width_bin(
    v: Column, lo: Column, hi: Column, nb: int
) -> Column:
    """Clamped equal-width bin id over broadcast [lo, hi] bounds:
    ``least(nb-1, greatest(0, floor((v - lo) * nb / (hi - lo))))``,
    with a degenerate-range (hi <= lo) guard to bin 0. The shared
    banding idiom behind the PSI monitor pair and the quality-gate
    gains table (r9 consolidation — divergent-copies hazard, r4
    review). Equal-width (not quantile) banding keeps both engines on
    identical closed-form arithmetic; callers mirror in SQL with the
    same least/greatest/floor chain. Scale shape: bounds come from a
    broadcast 1-row aggregate, the bin id is per-row codegen — no
    shuffle beyond the count that follows.
    """
    return (
        F.when(
            hi > lo,
            F.least(
                F.lit(nb - 1),
                F.greatest(
                    F.lit(0), F.floor((v - lo) * float(nb) / (hi - lo))
                ),
            ),
        )
        .otherwise(0)
        .cast("int")
    )


def dec_comoment(n: Column, sxy: Column, sx: Column, sy: Column | None = None) -> Column:
    """``n*Sxy - Sx*Sy`` as ONE double, from already-aggregated DECIMAL
    sufficient-statistic COLUMNS (post-``agg`` select context — the
    sibling of :func:`exact_comoment`, which builds the same numerator
    inside a single ``agg``). ``n`` is the group count column; ``sxy``
    /``sx``/``sy`` are :func:`dsum2`/:func:`dsum` outputs. The product
    runs in DECIMAL (precision 38, exact to ~1e38 — the r9 tier) and
    casts to double once.
    """
    sy = sx if sy is None else sy
    return (n.cast("decimal(14,0)") * sxy - sx * sy).cast("double")


def dec_var(n: Column, sxy: Column, sx: Column, sy: Column | None = None) -> Column:
    """Sample (co)variance ``(n*Sxy - Sx*Sy) / (n*(n-1))`` from
    aggregated DECIMAL sufficient-statistic columns: exact DECIMAL
    numerator (:func:`dec_comoment`), then identical double algebra on
    both engines. Callers divide by their grid scale (e.g. 1e12 for
    1e-6-grid terms) at the use site. Guard ``n > 1`` at the call site
    where ANSI mode could see a zero denominator.
    """
    return dec_comoment(n, sxy, sx, sy) / (n * (n - F.lit(1.0)))


def exact_corr(x: Column, y: Column, dp: int) -> Column:
    """Pearson r of two integer-valued columns from exact DECIMAL
    sufficient statistics, floor-pinned at dp (aggregate expression).

    Engine ``corr()`` streams float co-moments in accumulation order,
    so its double is not bit-identical across engines; this derives r
    from order-free exact integer sums through ONE identical double
    chain. Any common scale factor on x or y cancels in r.
    """
    num = exact_comoment(x, y).cast("double")
    den = F.sqrt(
        exact_comoment(x).cast("double") * exact_comoment(y).cast("double")
    )
    return pin(num / den, dp)
