"""Embedding similarity search (SURVEY.md §2.8 L3/L4).

Exact path: brute-force cosine top-k with the dot product as a
higher-order array expression (zip_with + aggregate) in double
precision — JVM-side, codegen'd, no Python. For one query vector
this is a map + TakeOrdered: fully parallel, no shuffle of the
embedding table.

Approximate path (the 100 TB plan): IVF-style coarse quantization —
build centroids (here: per-label mean, i.e. the label is the coarse
code; a k-means trainer would slot in identically), route the query
to its ``n_probe`` nearest centroids, exact-rerank only those
partitions. Search cost drops by ~|buckets|/n_probe; recall is
unit-tested against the exact path.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float|double> columns, in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """0/0 on a zero-norm vector is NaN, which Spark ORDERS ABOVE
    every double — a zero vector would rank first in any cosine
    top-k. The regime is asserted OUT of the data contract
    (tests/test_headroom.py::test_no_zero_norm_embeddings, the
    subus_key-gate pattern) rather than guarded per-row, because
    every inline DuckDB oracle mirror would have to replicate the
    guard identically; extend both sides in one change if a corpus
    with legitimate zero vectors ever lands."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against the embedding row ``query_id``.

    The 1-row query side is broadcast; the scan side never shuffles.
    Returns (id, sim) with deterministic tie-break on id.
    """
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qvec")
    )
    return (
        embeddings.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            cosine(F.col(vec_col), F.col("__qvec")).alias("__sim"),
        )
        .orderBy(F.col("__sim").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("__sim", 6).alias("sim"))
    )


def ivf_centroids(
    embeddings: DataFrame,
    bucket_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-bucket mean vector (the IVF coarse quantizer): one shuffle
    keyed by (bucket, dimension), output |buckets| rows."""
    dims = embeddings.select(
        bucket_col, F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    per_dim = dims.groupBy(bucket_col, "pos").agg(F.avg("x").alias("m"))
    return per_dim.groupBy(bucket_col).agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "m"))
        ).alias("__pm")
    ).select(
        bucket_col,
        F.expr("transform(__pm, s -> s.m)").alias("centroid"),
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
) -> DataFrame:
    """Approximate top-k: probe the n_probe buckets whose centroids are
    closest (cosine) to the query, exact-rerank inside them."""
    cents = ivf_centroids(embeddings, bucket_col, vec_col)
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qvec")
    )
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(bucket_col, cosine(F.col("centroid"), F.col("__qvec")).alias("__cs"))
        .orderBy(F.col("__cs").desc(), bucket_col)
        .limit(n_probe)
        .select(bucket_col)
    )
    return (
        embeddings.join(F.broadcast(probe), bucket_col)
        .filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(id_col, cosine(F.col(vec_col), F.col("__qvec")).alias("__sim"))
        .orderBy(F.col("__sim").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("__sim", 6).alias("sim"))
    )


def exact_topk_multi(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for a FRAME of queries (q_id, qvec) — the
    multi-query generalization of ``cosine_topk``. The query frame is
    broadcast against the corpus scan (queries are the small side in a
    serving batch); per-query ranking via the shared topk_per_group.
    Returns (q_id, id_col, sim, rn). Shared by the streaming retrieval
    path (streaming/retrieval.py) and its tests, so stream and batch
    rank with the SAME expressions.

    r15 OPTIMIZATION (guide §1.2 step 2): norms are projected ONCE PER
    ROW below the broadcast join instead of recomputed inside every
    pair's cosine — the |queries| x |corpus| nested-loop evaluated 3
    array folds per pair where only the dot product actually varies
    (each corpus norm was recomputed per query and vice versa).
    Bit-identical output: norm() is the same expression over the same
    row, sqrt/multiply/divide see the same doubles in the same order,
    so the 6-dp rounded sim — and the query's DuckDB oracle hash —
    cannot move."""
    from hadoop_log_analysis_spark.operators.windows import topk_per_group

    corpus_n = corpus.select(
        id_col, vec_col, norm(F.col(vec_col)).alias("__cn")
    )
    queries_n = queries.select(
        "q_id", "qvec", norm(F.col("qvec")).alias("__qn")
    )
    sims = corpus_n.join(
        F.broadcast(queries_n), F.col("q_id") != F.col(id_col)
    ).select(
        "q_id",
        id_col,
        (
            dot(F.col(vec_col), F.col("qvec"))
            / (F.col("__cn") * F.col("__qn"))
        ).alias("__sim"),
    )
    top = topk_per_group(
        sims, ["q_id"], [F.col("__sim").desc(), F.col(id_col)], k=k
    )
    return top.select("q_id", id_col, F.round("__sim", 6).alias("sim"), "rn")


def ivf_topk_multi(
    queries: DataFrame,
    corpus: DataFrame,
    cents: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
) -> DataFrame:
    """Multi-query IVF: route each query to its ``n_probe`` nearest
    centroids (by centroid cosine, bucket tie-break), exact-rerank only
    inside those buckets — the multi-query generalization of
    ``ann_ivf_topk`` (identity for a 1-query frame is pinned by test).

    This is the scale path ``exact_topk_multi`` can't walk: the corpus
    never broadcasts — only the |buckets| centroid table and the
    (query x n_probe) routing table do — and the bucket equi-join lets
    a bucket-partitioned corpus layout prune every unprobed partition.
    Approximate BY DESIGN: recall vs the exact ranker is the coverage
    fraction on unclustered data (see
    tests/test_llm_ops.py::test_ivf_is_exact_within_probed_buckets).
    Returns (q_id, id_col, sim, rn)."""
    from hadoop_log_analysis_spark.operators.windows import topk_per_group

    routed = topk_per_group(
        queries.crossJoin(F.broadcast(cents)).select(
            "q_id",
            bucket_col,
            cosine(F.col("centroid"), F.col("qvec")).alias("__cs"),
        ),
        ["q_id"],
        [F.col("__cs").desc(), F.col(bucket_col)],
        k=n_probe,
        rank_col="__probe_rn",
    ).select("q_id", bucket_col)
    cand = (
        corpus.join(F.broadcast(routed), bucket_col)
        .join(F.broadcast(queries.select("q_id", "qvec")), "q_id")
        .filter(F.col(id_col) != F.col("q_id"))
    )
    sims = cand.select(
        "q_id", id_col, cosine(F.col(vec_col), F.col("qvec")).alias("__sim")
    )
    top = topk_per_group(
        sims, ["q_id"], [F.col("__sim").desc(), F.col(id_col)], k=k
    )
    return top.select("q_id", id_col, F.round("__sim", 6).alias("sim"), "rn")


def _hyperplanes(n_bits: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic gaussian hyperplanes (spherically symmetric, so
    P[same sign] = 1 - theta/pi holds exactly)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]


def sign_bits_arrow(
    vec_col: str, n_bits: int = 128, dim: int = 64, seed: int = 7
) -> Column:
    """Arrow-vectorized sign bits: one numpy (batch x dim) @ (dim x
    n_bits) matrix product per Arrow batch.

    Higher-order lambda expressions are interpreted (~2 us/element-op
    measured): n_bits=128 over 64 dims is ~8k ops/row, which at 10^9
    rows is hours of lambda dispatch, while the same projection is a
    single BLAS call per batch. This is the "vectorized Pandas UDF
    beats the built-in" case, so it is the fingerprint path. Boundary
    note: float summation order can flip the sign of a ~0 dot product
    vs a sequential fold; fingerprints only gate CANDIDATES (pairs are
    exact-cosine verified), so a flipped bit perturbs recall by ~0.
    """
    from pyspark.sql.functions import pandas_udf

    planes_t = np.array(_hyperplanes(n_bits, dim, seed)).T  # dim x n_bits

    @pandas_udf("array<bigint>")
    def _bits(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy()).astype(np.float64)  # batch x dim
        bits = (mat @ planes_t >= 0).astype(np.int64)
        return pd.Series(list(bits))

    return _bits(vec_col)


def sign_band_hashes(
    bits_col: str, bands: int, rows_per_band: int
) -> Column:
    """Band the bit array into ``bands`` chunks of ``rows_per_band``
    bits; each element is xxhash64(band_idx, chunk) — a full 64-bit
    bucket key, so bucket cardinality is not limited to 2^rows_per_band
    ranges colliding across bands."""
    return F.expr(
        f"transform(sequence(0, {bands - 1}), j -> "
        f"  xxhash64(j, array_join(transform(slice({bits_col},"
        f" j * {rows_per_band} + 1, {rows_per_band}),"
        f" x -> cast(x AS string)), '_')))"
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 192,
    rows_per_band: int = 12,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via random-hyperplane sign-band
    LSH: fingerprint -> banded buckets -> candidate self-join ->
    exact-cosine verify.

    Replaces the round-1 label-blocked plan (VERDICT.md "What's wrong"
    #1): label blocking is O(n^2/|labels|) pairs, a scale-killer at
    10^9 vectors; sign-band candidates are ~O(true near-dups) plus the
    random-collision floor below. Precision is exact (every candidate
    is cosine-verified); recall is the LSH 1-(1-p^r)^b curve with
    p = 1 - arccos(sim)/pi: at r=12, b=16 recall is 0.93 at sim=0.90,
    0.995 at 0.95, ~1-1e-8 at 0.99 — tuned for the near-DUPLICATE
    operating regime, property-tested against brute force in
    tests/test_llm_ops.py on planted sim~0.998 dups.

    Band width r is the load knob, NOT a free recall dial: sign bits
    are binary, so each band has exactly 2^r buckets and the random
    collision floor is ~ b * n^2 / 2^r candidate pairs regardless of
    similarity structure. r=4 (the first cut) meant 16 buckets — ~12M
    spurious candidates from sf0.1's 2000 unrelated vectors, r=8 still
    140k; r=12 keeps it ~15k. A 10^9-vector corpus needs r ~
    2*log2(n) - log2(budget) with n_bits = r * bands raised to match
    (e.g. r=48, b=8 -> n_bits=384); the numpy fingerprint path makes
    wider fingerprints free.
    """
    from hadoop_log_analysis_spark.operators.partitioning import widen

    bands = n_bits // rows_per_band
    sides = widen(embeddings.select(F.col(id_col), F.col(vec_col))).withColumn(
        "__bits", sign_bits_arrow(vec_col, n_bits, dim, seed)
    )
    buckets = sides.select(
        F.col(id_col),
        F.posexplode(sign_band_hashes("__bits", bands, rows_per_band)).alias(
            "band_idx", "band_hash"
        ),
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
        )
        .distinct()
    )
    va = embeddings.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("__va")
    )
    vb = embeddings.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("__vb")
    )
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .withColumn("__sim", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("__sim") >= threshold)
        .select("a_id", "b_id", F.round("__sim", 6).alias("sim"))
    )


def ivf_build(
    spark: SparkSession,
    embeddings: DataFrame,
    index_dir: str,
    bucket_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Build and persist an IVF index: a tiny centroid table plus the
    full vector set partitioned by coarse bucket.

    Splits the round-1 monolith (VERDICT.md "What's wrong" #2 — the
    quantizer was recomputed from the full table on every probe). Built
    once, probed many: the assignments sit in ``bucket=<id>/``
    partition directories, so a probe's bucket filter becomes partition
    pruning and only n_probe/|buckets| of the data is ever read.
    """
    cents = ivf_centroids(embeddings, bucket_col, vec_col).withColumnRenamed(
        bucket_col, "bucket"
    )
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    asg = embeddings.select(
        F.col(id_col), F.col(vec_col), F.col(bucket_col).alias("bucket")
    )
    asg.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{index_dir}/assignments"
    )
    # Schema manifest: an index built from an EMPTY vector set writes
    # no partition dirs, and a schemaless read of it cannot infer —
    # the manifest makes "empty index" a valid index state.
    import json as _json
    import os as _os

    with open(_os.path.join(index_dir, "_schemas.json"), "w") as fh:
        _json.dump(
            {"centroids": cents.schema.json(), "assignments": asg.schema.json()},
            fh,
        )


def ivf_probe(
    spark: SparkSession,
    index_dir: str,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Probe a persisted IVF index: route ``query`` (1 row, column
    ``__qvec``) to its n_probe nearest centroids, exact-rerank inside
    those buckets only.

    The centroid table is tiny (|buckets| rows) and broadcast; the
    bucket join against the partitioned assignments triggers dynamic
    partition pruning, so the probe reads n_probe partitions — no
    posexplode, no full-table pass (plan-tested in tests/test_plans.py).
    """
    import json as _json
    import os as _os

    manifest = _os.path.join(index_dir, "_schemas.json")
    schemas = {}
    if _os.path.exists(manifest):
        from pyspark.sql import types as _T

        with open(manifest) as fh:
            schemas = {
                k: _T.StructType.fromJson(_json.loads(v))
                for k, v in _json.load(fh).items()
            }

    def _read(sub: str) -> DataFrame:
        reader = spark.read
        if sub in schemas:
            reader = reader.schema(schemas[sub])
        return reader.parquet(f"{index_dir}/{sub}")

    cents = _read("centroids")
    probe = (
        cents.crossJoin(F.broadcast(query))
        .select(
            "bucket", cosine(F.col("centroid"), F.col("__qvec")).alias("__cs")
        )
        .orderBy(F.col("__cs").desc(), "bucket")
        .limit(n_probe)
        .select("bucket")
    )
    asg = _read("assignments")
    scored = asg.join(F.broadcast(probe), "bucket")
    if exclude_id is not None:
        scored = scored.filter(F.col(id_col) != exclude_id)
    return (
        scored.crossJoin(F.broadcast(query))
        .select(
            id_col, cosine(F.col(vec_col), F.col("__qvec")).alias("__sim")
        )
        .orderBy(F.col("__sim").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("__sim", 6).alias("sim"))
    )
