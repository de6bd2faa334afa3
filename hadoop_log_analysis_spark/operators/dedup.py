"""Deduplication operators for training-data pipelines (SURVEY.md §2.8).

Four tiers, all DataFrame-native:

* exact           — sha2(content) groupBy (L1)
* MinHash + LSH   — shingle -> minhash signature -> banded LSH buckets
                    -> candidate pairs -> exact-Jaccard verify (L2)
* SimHash         — 64-bit sign-of-weighted-sum fingerprint + banded
                    Hamming candidate generation
* n-gram Jaccard  — deterministic prefix-blocked exact Jaccard

Everything runs JVM-side: shingling, hashing, and signatures are
higher-order array expressions over xxhash64 — no Python UDF in the
hot path, so the whole pipeline stays in whole-stage codegen and
scales linearly with executors. The only shuffles are the LSH
bucket self-join (keys are (band_idx, band_hash) — high cardinality,
well distributed) and the final pair dedup.

Scale posture (100 TB): signature computation is map-only; candidate
pairs ~ O(dups), not O(n^2). A pathological bucket (constant column)
would skew the self-join — AQE skew splitting plus an optional bucket
size cap (``max_bucket`` filter) bound it.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: keeps a*h+b inside signed 64-bit.
_MERSENNE = 2_147_483_647


def sha_key(col: str | Column) -> Column:
    """Exact-dedup key: sha2-256 hex of the content column (L1)."""
    return F.sha2(F.col(col) if isinstance(col, str) else col, 256)


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one deterministic representative (min id) per exact content."""
    keeper = df.groupBy(sha_key(content_col).alias("__h")).agg(
        F.min(id_col).alias(id_col)
    )
    return df.join(keeper, id_col, "left_semi")


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def shingles(text_col: str, k: int = 5) -> Column:
    """k-token shingles as strings (whole text if shorter than k).

    The token split is let-bound via a singleton-array transform so it
    is evaluated once per row, not once per shingle index (Catalyst has
    no common-subexpression elimination inside higher-order lambdas).
    """
    return F.expr(
        f"transform(array(split({text_col}, ' ')), toks ->"
        f" transform(sequence(1, greatest(size(toks) - {k} + 1, 1)),"
        f" i -> array_join(slice(toks, i, {k}), ' ')))[0]"
    )


def minhash_signature(
    text_col: str, num_hashes: int = 64, shingle_k: int = 5, seed: int = 42
) -> Column:
    """MinHash signature as array<bigint> of length ``num_hashes``.

    h_i(x) = (a_i * base(x) + b_i) mod 2^31-1 over xxhash64 shingle
    hashes; the signature element is the min over shingles.

    Single-pass fold: the shingle hashes are walked ONCE, carrying an
    array of ``num_hashes`` running minima updated by zip_with. The
    round-1 formulation (transform over the 64 params, array_min per
    param over a ``__shingle_hashes`` helper column) measured **72.8 s
    for sf0.1's 5000 docs vs 4.4 s for this one** with identical
    output: Catalyst's CollapseProject inlines the helper columns, so
    the whole shingle+split+xxhash pipeline was recomputed per hash
    function (64x), and the token split recomputed per shingle. The
    split is let-bound here via a singleton-array transform so it is
    evaluated exactly once per row, and shingle hashes exactly once
    per shingle.
    """
    params = _hash_params(num_hashes, seed)
    params_sql = ",".join(f"struct({a}L AS a, {b}L AS b)" for a, b in params)
    return F.expr(
        f"""
        transform(array(split({text_col}, ' ')), toks ->
          aggregate(
            transform(sequence(1, greatest(size(toks) - {shingle_k} + 1, 1)),
                      i -> pmod(xxhash64(array_join(slice(toks, i, {shingle_k}), ' ')),
                                {_MERSENNE})),
            array_repeat(CAST({_MERSENNE} AS BIGINT), {num_hashes}),
            (acc, h) -> zip_with(acc, array({params_sql}),
                                 (m, p) -> least(m, pmod(p.a * h + p.b, {_MERSENNE})))))[0]
        """
    )


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
    widen_partitions: bool = True,
) -> DataFrame:
    """Attach a ``sig`` array<bigint> MinHash signature column.

    ``widen_partitions``: signature computation is CPU-heavy per row;
    a small input (one parquet file -> one partition) would otherwise
    run it single-threaded — see operators.partitioning.widen (a no-op
    at real scale, so no shuffle is added to the 100 TB plan).
    """
    if widen_partitions:
        from hadoop_log_analysis_spark.operators.partitioning import widen

        df = widen(df)
    return df.withColumn(
        "sig", minhash_signature(text_col, num_hashes, shingle_k, seed)
    )


def band_hash_expr(
    sig_col: str = "sig", bands: int = 16, rows_per_band: int = 4
) -> Column:
    """array<bigint> of banded-LSH bucket hashes over a signature column.

    Element j is xxhash64 of band j's ``rows_per_band`` signature slice;
    two docs agreeing on any band land in the same bucket. Shared by the
    batch candidate generator (``lsh_candidate_pairs``) and the streaming
    first-seen suppressor (streaming.docs_dedup) so both sides hash the
    SAME buckets — the streaming-vs-batch parity test depends on it.
    """
    return F.expr(
        f"transform(sequence(0, {bands - 1}), j -> "
        f"  xxhash64(array_join(transform(slice({sig_col}, j * {rows_per_band} + 1,"
        f" {rows_per_band}), x -> cast(x AS string)), '_')))"
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs
    (columns ``a_id``, ``b_id``; a < b, distinct)."""
    band_arr = band_hash_expr("sig", bands, rows_per_band)
    buckets = sigs.select(
        F.col(id_col),
        F.posexplode(band_arr).alias("band_idx", "band_hash"),
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )


def token_jaccard(a_toks: Column, b_toks: Column) -> Column:
    """Exact token-set Jaccard similarity (double)."""
    inter = F.size(F.array_intersect(a_toks, b_toks)).cast("double")
    union = F.size(F.array_union(a_toks, b_toks)).cast("double")
    return inter / union


def minhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Full L2 pipeline: MinHash -> banded LSH -> exact-Jaccard verify.

    Returns (a_id, b_id, jacc) pairs with token-set Jaccard >= threshold.
    LSH recall is probabilistic; precision is exact because every
    candidate is verified against the true Jaccard.
    """
    sigs = with_minhash(docs, text_col, num_hashes, shingle_k, seed).select(
        id_col, "sig"
    )
    pairs = lsh_candidate_pairs(sigs, id_col)
    toks = docs.select(
        F.col(id_col),
        F.array_distinct(F.split(F.col(text_col), " ")).alias("toks"),
    )
    return (
        pairs.join(toks.select(F.col(id_col).alias("a_id"), F.col("toks").alias("a_toks")), "a_id")
        .join(toks.select(F.col(id_col).alias("b_id"), F.col("toks").alias("b_toks")), "b_id")
        .withColumn("jacc", token_jaccard(F.col("a_toks"), F.col("b_toks")))
        .filter(F.col("jacc") >= threshold)
        .select("a_id", "b_id", F.round("jacc", 4).alias("jacc"))
    )


def simhash(text_col: str = "text") -> Column:
    """64-bit SimHash fingerprint of whitespace tokens as bigint.

    bit_i = sign of sum over tokens of +/-1 by token-hash bit i.

    Single token pass: the inner aggregate walks the token hashes ONCE,
    carrying an array of 64 signed counters (zip_with update), then the
    outer aggregate folds counter signs into the 64-bit fingerprint.
    The per-bit formulation (64 aggregates, each re-walking the tokens)
    measured 2x slower at sf0.1 for identical fingerprints.
    """
    return F.expr(
        f"""
        aggregate(
          transform(
            aggregate(transform(split({text_col}, ' '), t -> xxhash64(t)),
                      array_repeat(0L, 64),
                      (acc, h) -> zip_with(acc, sequence(0, 63), (a, i) ->
                          a + CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)),
            c -> CASE WHEN c > 0 THEN 1L ELSE 0L END),
          0L, (acc, b) -> shiftleft(acc, 1) | b)
        """
    )


def simhash_candidate_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 8
) -> DataFrame:
    """SimHash near-dup candidates: band the 64-bit fingerprint into 4
    16-bit chunks (pigeonhole: hamming <= 3 guarantees a shared chunk;
    larger distances are caught probabilistically), verify Hamming
    distance <= max_hamming via bit_count(xor)."""
    from hadoop_log_analysis_spark.operators.partitioning import widen

    fp = widen(docs).select(F.col(id_col), simhash(text_col).alias("fp"))
    chunks = fp.select(
        id_col,
        "fp",
        F.posexplode(
            F.expr("transform(sequence(0, 3), c -> (fp >> (c * 16)) & 65535)")
        ).alias("chunk_idx", "chunk_val"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            F.expr("bit_count(a.fp ^ b.fp)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _ranked_token_sets(
    docs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Shared prefix-filter preprocessing for set_similarity_join and
    containment_join: distinct token sets re-encoded as sorted arrays
    of GLOBAL rarest-first token ranks (df asc, token asc). The global
    order is the correctness keystone of both prefix filters — one
    definition, so a change (e.g. a df cap for stop tokens) cannot
    desynchronize the two operators (r4 review finding).

    Returns (id, ranks) with ranks ascending, MATERIALIZED via
    localCheckpoint (r14 optimization, guide §2.4/§3.3): the consumers
    self-join on this frame, and before materialization the whole
    build — scan → tokenize → df groupBy → global-rank Window →
    re-encode join → collect_list — was planned once PER SELF-JOIN
    SIDE (plans/r14/q_set_similarity_join_before.txt operators 1–23 vs
    24–47). The tokenize step is additionally referenced twice WITHIN
    one build (df ranking + re-encode), so an expensive text
    expression (the shingle corpus's 3-gram generation) ran 4x per
    query. Two eager checkpoints — the tokenized sets, then the ranked
    sets — make it run once; both frames are the distinct-token-set
    projection of the corpus (far smaller than the text), and at scale
    this is the guide §8 "decide over small rows" materialization, two
    corpus passes instead of four.

    CONSTRUCTION-TIME EXECUTION (ADVICE r14 low): the two eager
    checkpoints mean every public caller (set_similarity_join,
    containment_join, *_candidates) runs two corpus-pass Spark jobs at
    DataFrame-CONSTRUCTION time — plan capture / explain-only callers
    pay them too — and truncates lineage (executor loss during a later
    action fails the query instead of recomputing). That trade is
    deliberate: the consumers self-join this frame AND probe max(rank)
    with a driver action, so a lazy build would re-run the corpus scan
    per use. A caller composing candidates + join over the SAME corpus
    should build this frame once and pass it via the public functions'
    ``ranked=`` parameter so the materialization is not paid twice.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.split(F.col(text_col), " ")).alias("toks"),
    ).localCheckpoint(eager=True)
    df_rank = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
        .select(
            "tok",
            F.row_number().over(Window.orderBy("df", "tok")).alias("rank"),
        )
    )
    return (
        toks.select("id", F.explode("toks").alias("tok"))
        .join(F.broadcast(df_rank), "tok")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("rank")).alias("ranks"))
        .localCheckpoint(eager=True)
    )


# Rank values 1..64 fit one signed-long bitmask (shiftleft(1L, 63) is
# the sign bit; &, |, bit_count are sign-agnostic, so 64 is safe).
_MASK_VOCAB_MAX = 64

# Guard band for the prefix-length ceil (r15, with ADVICE r14 medium):
# the bound needs ceil(t * |x|) over the REALS. IEEE round-to-nearest
# already cannot SHORTEN the prefix (a product rounding down across an
# integer only lengthens it, and |t_double*n - t*n| <= 0.25 ulp keeps
# exactly-integral products from rounding up across — verified for
# every n < 200 at the registered thresholds), so this guard defends
# only the residual case of a threshold whose double product lands a
# hair above an integer at very large |x|: subtracting 1e-9 before the
# ceil can only LENGTHEN the prefix (candidate superset -> recall-safe;
# the exact verify keeps the output byte-identical). 1e-9 is above the
# double rounding error of the product only while t * |x| < 2^23 (one
# ulp there is at most 2^-30 ~ 9.3e-10; past it the guard is smaller
# than an ulp and does nothing), and far below any honest threshold
# granularity, so no legitimate boundary moves — measured: candidate
# counts are unchanged on the fixtures. No fixture or probe set comes
# near 2^23 tokens per set.
_CEIL_GUARD = 1e-9


def _prefix_len(threshold: float):
    """Prefix length |x| - ceil(t|x|) + 1 as a Column over ``ranks`` —
    THE single arithmetic path for every prefix derivation (explode,
    slice, prefix bitmask). One definition so the exploded index and
    the pmask used by min-shared-bit uniqueness can never disagree on
    which ranks are "in the prefix" (ADVICE r14 medium: the bitmask
    path previously computed pmask via a DECIMAL SQL literal while the
    explode used double arithmetic — a one-token disagreement makes
    min-shared-bit match no joined row and silently drops the pair)."""
    return (
        F.size("ranks")
        - F.ceil(F.size("ranks") * F.lit(threshold) - F.lit(_CEIL_GUARD))
        + 1
    ).cast("int")


def _prefix_slice(threshold: float):
    """The prefix ranks (first ``_prefix_len`` elements of ``ranks``)."""
    return F.slice("ranks", 1, _prefix_len(threshold))


# Bitmask of an array-of-ranks column: bit (rank-1) set per member.
def _mask_agg(col: str):
    return F.expr(
        f"aggregate({col}, cast(0 as bigint), "
        "(acc, r) -> acc | shiftleft(cast(1 as bigint), r - 1))"
    )


def _jaccard_prefix(
    ranked: DataFrame,
    threshold: float,
    keep_cols: tuple = ("ranks",),
    with_prefix_mask: bool = False,
) -> DataFrame:
    """Prefix-exploded index for the Jaccard filter: one row per
    (id, ranks, ptok) with ptok drawn from the first
    |x| - ceil(t|x|) + 1 (rarest) ranks. ``widen``-ed before the
    candidate self-join (r14): every exchange BELOW the explosion
    carries only corpus-row-count-sized data, so AQE's advisory
    coalescing legitimately shrinks it to ~1 partition — and the
    multiplicative fan-out of the join happens ABOVE the last
    exchange, where AQE cannot see it. Explicit round-robin
    repartition up to defaultParallelism (a no-op whenever the input
    is already wider, i.e. at real scale) spreads the fan-out across
    the cores (guide §2.5 input-skew class).

    ``with_prefix_mask`` additionally emits ``pmask``, the bitmask of
    the row's prefix ranks, for the min-shared-bit candidate
    uniqueness filter (bitmask path only; requires ranks <= 64).
    """
    from hadoop_log_analysis_spark.operators.partitioning import widen

    base = ranked.select(
        "id", *keep_cols, _prefix_slice(threshold).alias("_pranks")
    )
    out_cols = ["id", *keep_cols]
    if with_prefix_mask:
        base = base.withColumn("pmask", _mask_agg("_pranks"))
        out_cols.append("pmask")
    return widen(base.select(*out_cols, F.explode("_pranks").alias("ptok")))


def _is_min_shared_bit(tok_col: str, shared: Column) -> Column:
    """True iff ``tok_col``'s bit is the LEAST set bit of ``shared``
    (v & -v isolates the lowest set bit for every two's-complement
    long, sign bit included — the vocab-64 boundary test pins that
    edge). Applied to a prefix-token candidate join where ``shared``
    is the bitmask of the pair's shared indexed tokens, this keeps
    EXACTLY ONE join row per candidate pair — the occurrence at the
    pair's minimal shared rank — so the downstream per-pair
    ``dropDuplicates`` (a full-width HashAggregate + exchange over the
    candidate stream, the dominant cost in the degenerate-vocabulary
    regime) becomes unnecessary: uniqueness holds by construction.
    ``shared`` is never 0 on a joined row (the join key itself is a
    shared indexed token), so no pair is dropped entirely."""
    return (
        F.expr(f"shiftleft(cast(1 as bigint), {tok_col} - 1)")
        == shared.bitwiseAND(-shared)
    )


def _jaccard_prefix_pairs(ranked: DataFrame, threshold: float) -> DataFrame:
    """PRE-DEDUP candidate pairs (a_id, b_id, a_ranks, b_ranks),
    a_id < b_id, one row per shared prefix token: the provable
    superset of qualifying pairs, before duplicate collapse."""
    pref = _jaccard_prefix(ranked, threshold)
    a = pref.select(
        F.col("id").alias("a_id"), F.col("ranks").alias("a_ranks"), "ptok"
    )
    b = pref.select(
        F.col("id").alias("b_id"), F.col("ranks").alias("b_ranks"), "ptok"
    )
    return (
        a.join(b, "ptok")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_ranks", "b_ranks")
    )


def _rank_mask() -> Column:
    """Token set as a single long: bit (rank-1) set per member rank.
    Only valid when every rank <= _MASK_VOCAB_MAX — callers must prove
    that first (set/containment joins probe max(rank) from the
    materialized rank frame, so the guarantee is by construction, not
    by assumption)."""
    return _mask_agg("ranks")


def set_similarity_candidates(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    ranked: DataFrame | None = None,
) -> DataFrame:
    """Candidate-pair stage of :func:`set_similarity_join`, exposed so
    the pruning claim is testable (VERDICT r4 "weak" #1): the property
    suite asserts |candidates| << n(n-1)/2 on a Zipfian vocabulary
    while recall stays 1.0 vs brute force. Returns
    (a_id, b_id, a_ranks, b_ranks), a_id < b_id, distinct — a provable
    superset of every pair with J >= threshold. Construction runs two
    eager corpus passes unless a prebuilt ``ranked`` frame
    (:func:`_ranked_token_sets` output) is supplied — see that
    function's docstring."""
    if ranked is None:
        ranked = _ranked_token_sets(docs, text_col, id_col)
    return _jaccard_prefix_pairs(ranked, threshold).dropDuplicates(
        ["a_id", "b_id"]
    )


def set_similarity_join(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    ranked: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs Jaccard similarity join via prefix filtering
    (the PPJoin/AllPairs principle, Chaudhuri et al. / Xiao et al.):
    under any fixed global token order, two sets with
    J(a, b) >= t MUST share at least one token within each set's
    first ``|x| - ceil(t * |x|) + 1`` tokens — so indexing only those
    prefix tokens generates a candidate set that provably contains
    every qualifying pair, and an exact intersect verify finishes the
    job. Unlike MinHash-LSH this is deterministic and recall-1.0;
    unlike full blocking it indexes O(1 - t) of each set's tokens.

    Tokens are ordered rarest-first (ascending document frequency,
    token string as tie-break): rare tokens appear in few prefixes,
    so candidate lists stay near the true-pair count on Zipfian
    vocabularies. Returns (a_id, b_id, jacc) with a_id < b_id,
    jacc >= threshold, rounded to 4.

    Scale accounting: df ranking is the word-count shape; prefix
    explode emits sum(prefix lengths) ~= (1-t) * corpus tokens; the
    candidate self-join keys on single tokens (df-bounded buckets —
    cap or drop stop-token buckets the way LSH bucket caps work);
    verify is per-candidate array intersection. NOTE: on this
    fixture's tiny ~31-token vocabulary every token is common, so
    prefix filtering degenerates toward all-pairs locally — the
    operator's win appears exactly on the Zipfian vocabularies it is
    built for.

    r14 execution-shape optimizations (results byte-identical, proven
    by the unchanged brute-force oracle):

    * verify-before-dedup — the old candidates→dedup→verify order ran
      ``dropDuplicates`` with ``first(array)`` aggregates, which are
      not hash-aggregable, so Spark SORTED the full pre-dedup
      candidate stream (112.6M wide rows at sf0.1). Verifying first
      makes the dedup a plain HashAggregate over OUTPUT-sized
      (a_id, b_id, jacc) rows; jacc is functionally determined by the
      pair, so collapsing occurrences after the filter keeps exactly
      the dedup-then-verify pair set.
    * bitmask fast path — when the probed vocabulary fits 64 ranks
      (max rank read from the materialized rank frame: by
      construction, not assumption), each set rides the join as ONE
      long and the verify is two bit_counts; |A∩B| and |A∪B| are the
      same integers the array path produces, so the double division
      and round(4) are bit-identical. Narrower rows through the
      exchange (guide §2.3) exactly in the degenerate-vocabulary
      regime where the candidate stream is largest. Above 64 ranks
      the array path runs unchanged.
    * min-shared-bit uniqueness (see :func:`_is_min_shared_bit`) — on
      the bitmask path each candidate pair survives the join exactly
      once, so the final ``dropDuplicates`` disappears: at sf0.1 that
      aggregate consumed ~80M qualifying-occurrence rows to produce
      8.9M pairs and dominated the runtime (measured 13.2 → 2.4 s
      med-of-3 by a one-off r14 probe; OPTIMIZATION_r14.md Change 1
      records the change). The array path keeps the
      dedup (no mask to take a least bit of).

    Construction runs two eager corpus passes plus a 1-row vocab probe
    unless a prebuilt ``ranked`` frame is supplied (ADVICE r14 low —
    see :func:`_ranked_token_sets`).
    """
    if ranked is None:
        ranked = _ranked_token_sets(docs, text_col, id_col)
    # Bounded driver action on the MATERIALIZED frame (no corpus
    # rescan): ranks are sorted, so max(last element) is the vocab
    # size actually in use.
    n_vocab = (
        ranked.agg(F.max(F.element_at("ranks", -1))).collect()[0][0] or 0
    )
    if n_vocab <= _MASK_VOCAB_MAX:
        pref = _jaccard_prefix(
            ranked.select("id", "ranks", _rank_mask().alias("mask")),
            threshold,
            keep_cols=["mask"],
            with_prefix_mask=True,
        )
        a = pref.select(
            F.col("id").alias("a_id"),
            F.col("mask").alias("a_mask"),
            F.col("pmask").alias("a_pmask"),
            "ptok",
        )
        b = pref.select(
            F.col("id").alias("b_id"),
            F.col("mask").alias("b_mask"),
            F.col("pmask").alias("b_pmask"),
            "ptok",
        )
        jacc = F.expr("bit_count(a_mask & b_mask)").cast("double") / F.expr(
            "bit_count(a_mask | b_mask)"
        ).cast("double")
        # min-shared-bit uniqueness (r14): the shared INDEXED tokens of
        # a candidate pair are exactly a_pmask & b_pmask (both sides
        # explode their prefix), so keeping the occurrence at the least
        # shared bit yields each pair once — no per-pair dedup needed.
        verified = (
            a.join(b, "ptok")
            .filter(F.col("a_id") < F.col("b_id"))
            .filter(
                _is_min_shared_bit(
                    "ptok", F.col("a_pmask").bitwiseAND(F.col("b_pmask"))
                )
            )
            .withColumn("jacc", jacc)
        )
        pair_unique = True
    else:
        jacc = F.size(F.array_intersect("a_ranks", "b_ranks")).cast(
            "double"
        ) / F.size(F.array_union("a_ranks", "b_ranks")).cast("double")
        verified = _jaccard_prefix_pairs(ranked, threshold).withColumn(
            "jacc", jacc
        )
        pair_unique = False
    out = verified.filter(F.col("jacc") >= threshold).select(
        "a_id", "b_id", F.round("jacc", 4).alias("jacc")
    )
    return out if pair_unique else out.dropDuplicates(["a_id", "b_id"])


def _containment_sides(
    ranked: DataFrame, threshold: float, keep_cols: tuple, a_extra: tuple = ()
) -> tuple[DataFrame, DataFrame]:
    """The two exploded index sides of the containment filter over a
    ranked frame carrying ``keep_cols`` payloads (ranks for the array
    path, mask for the bitmask path): the A side explodes only its
    prefix, the B side its FULL rank list, semi-join-pruned to tokens
    that occur in some a-prefix. ``a_extra`` columns ride the A side
    only (the prefix mask for min-shared-bit uniqueness — the B side
    must not pay for columns it never reads). Both sides are
    ``widen``-ed for the same AQE-coalesce-vs-join-fan-out reason as
    :func:`_jaccard_prefix`."""
    from hadoop_log_analysis_spark.operators.partitioning import widen

    a_pref = widen(
        ranked.select(
            F.col("id").alias("a_id"),
            *[F.col(c).alias(f"a_{c}") for c in (*keep_cols, *a_extra)],
            F.explode(_prefix_slice(threshold)).alias("tok_rank"),
        )
    )
    b_full = ranked.select(
        F.col("id").alias("b_id"),
        *[F.col(c).alias(f"b_{c}") for c in keep_cols],
        F.explode("ranks").alias("tok_rank"),
    )
    # EXACT B-side prune: only tokens that occur in SOME a-prefix can
    # generate a candidate, so the full-explode index semi-joins down
    # to the distinct prefix-token set before the candidate join. The
    # prefix side is rarest-first, so this drops precisely the high-df
    # stop tokens whose index rows dominate the explode at scale — the
    # safe form of the "cap stop-token buckets" mitigation (no recall
    # loss; exactness still pinned by the brute-force-oracle tests).
    pref_toks = a_pref.select("tok_rank").distinct()
    b_full = widen(b_full.join(pref_toks, "tok_rank", "left_semi"))
    return a_pref, b_full


def containment_candidates(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    ranked: DataFrame | None = None,
) -> DataFrame:
    """Candidate-pair stage of :func:`containment_join`, exposed for
    the same pruning-evidence reason as
    :func:`set_similarity_candidates`. Returns
    (a_id, b_id, a_ranks, b_ranks), a_id != b_id, distinct — a
    provable superset of every pair with C(a, b) >= threshold.
    Construction runs two eager corpus passes unless a prebuilt
    ``ranked`` frame is supplied (see :func:`_ranked_token_sets`)."""
    if ranked is None:
        ranked = _ranked_token_sets(docs, text_col, id_col)
    a_pref, b_full = _containment_sides(ranked, threshold, ["ranks"])
    return (
        a_pref.join(b_full, "tok_rank")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", "a_ranks", "b_ranks")
        .dropDuplicates(["a_id", "b_id"])
    )


def containment_join(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    ranked: DataFrame | None = None,
) -> DataFrame:
    """EXACT directed containment join: pairs (a, b), a != b, with
    C(a, b) = |A ∩ B| / |A| >= threshold — "at least ``threshold`` of
    a's token set appears in b". Containment is the excerpt/superset
    detector Jaccard misses: a short doc fully quoted inside a long
    one has high containment but low Jaccard, so near-dup pipelines
    run BOTH (set_similarity_join for mutual near-dups, this for
    one-directional inclusion).

    Prefix filter (asymmetric variant of the PPJoin bound): if
    C(a, b) >= t then fewer than ``|A| - ceil(t|A|) + 1`` of A's
    tokens are missing from B, so A must share a token with B inside
    A's first ``|A| - ceil(t|A|) + 1`` rarest tokens. Only the A-side
    prefix is exploded; the B side indexes its FULL token list (the
    asymmetry is inherent: B is unconstrained by C(a, b)). Candidates
    provably cover every qualifying pair; the exact array_intersect
    verify closes recall at 1.0.

    Scale accounting: A-side explode emits ~(1-t) x corpus tokens;
    B-side explode is the word-count shape; the join keys on single
    tokens, so stop-token buckets are the hot spot — cap or pre-drop
    tokens with df above a bound (they cannot discriminate at high t)
    exactly as LSH bucket caps do.

    r14 execution-shape optimizations: verify-before-dedup, the
    vocab<=64 bitmask fast path, and min-shared-bit candidate
    uniqueness on that path (shared bits = a_pmask & b_mask here — A
    contributes only its indexed prefix, B its full set), for exactly
    the reasons documented on :func:`set_similarity_join` (same
    degenerate-vocabulary regime, same byte-identical-output argument
    — |A∩B| and |A| are the same integers under both representations).

    Construction runs two eager corpus passes plus a 1-row vocab probe
    unless a prebuilt ``ranked`` frame is supplied (ADVICE r14 low —
    see :func:`_ranked_token_sets`).
    """
    if ranked is None:
        ranked = _ranked_token_sets(docs, text_col, id_col)
    n_vocab = (
        ranked.agg(F.max(F.element_at("ranks", -1))).collect()[0][0] or 0
    )
    if n_vocab <= _MASK_VOCAB_MAX:
        # pmask from the IDENTICAL slice expression the A-side explode
        # uses (_prefix_slice — ADVICE r14 medium): one arithmetic
        # path, so the mask can never contain a rank the index does
        # not explode (which would break min-shared-bit uniqueness and
        # silently drop the pair).
        enc = ranked.select(
            "id",
            "ranks",
            _rank_mask().alias("mask"),
            _prefix_slice(threshold).alias("_pranks"),
        ).select(
            "id", "ranks", "mask", _mask_agg("_pranks").alias("pmask")
        )
        a_pref, b_full = _containment_sides(
            enc, threshold, ["mask"], a_extra=("pmask",)
        )
        cont = F.expr("bit_count(a_mask & b_mask)").cast("double") / F.expr(
            "bit_count(a_mask)"
        ).cast("double")
        # min-shared-bit uniqueness (r14): a candidate pair's joined
        # occurrences are exactly the tokens of prefix(A) ∩ B =
        # a_pmask & b_mask (the B-side semi-prune only removes tokens
        # outside EVERY a-prefix, so it never removes a member of this
        # pair's intersection), so keeping the least shared bit yields
        # each (a, b) once — no per-pair dedup needed.
        verified = (
            a_pref.join(b_full, "tok_rank")
            .filter(F.col("a_id") != F.col("b_id"))
            .filter(
                _is_min_shared_bit(
                    "tok_rank", F.col("a_pmask").bitwiseAND(F.col("b_mask"))
                )
            )
            .withColumn("containment", cont)
        )
        pair_unique = True
    else:
        a_pref, b_full = _containment_sides(ranked, threshold, ["ranks"])
        cont = F.size(F.array_intersect("a_ranks", "b_ranks")).cast(
            "double"
        ) / F.size("a_ranks").cast("double")
        verified = (
            a_pref.join(b_full, "tok_rank")
            .filter(F.col("a_id") != F.col("b_id"))
            .withColumn("containment", cont)
        )
        pair_unique = False
    out = verified.filter(F.col("containment") >= threshold).select(
        "a_id", "b_id", F.round("containment", 4).alias("containment")
    )
    return out if pair_unique else out.dropDuplicates(["a_id", "b_id"])
