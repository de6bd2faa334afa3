"""Streaming vector search against a static embedding corpus (T8 x L3).

The batch retrieval path (operators.similarity.cosine_topk) answers a
one-off query; a serving pipeline answers a QUERY STREAM — each
arriving query vector gets its exact top-k neighbors from the indexed
corpus. The Spark-first shape for that is stream-static enrichment in
``foreachBatch``: every microbatch of queries is a small batch
DataFrame, and the per-batch join against the static corpus is an
ordinary Catalyst plan (broadcast-nested-loop against the broadcast
corpus, TakeOrdered-style row_number top-k per query), written to a
batch_id-keyed sink exactly like T7's parquet fan-out.

Why NOT a streaming stateful aggregation: retrieval is STATELESS —
each query's answer depends only on the (static) corpus, never on
other stream rows, so the right plan carries zero streaming state. A
groupBy().collect_list() formulation would buffer |corpus| candidate
structs per query in the state store for no benefit; here state stays
empty and the microbatch boundary IS the unit of work. That also
makes the result trivially batch-boundary invariant (pinned by test
at two maxFilesPerTrigger widths).

Scale posture (100 TB corpus): the fixture-scale corpus broadcasts
whole (exact ranker, operators.similarity.exact_topk_multi); past
broadcast size the ``ranker`` parameter swaps in the SHIPPED IVF
route (operators.similarity.ivf_topk_multi, q_stream_knn_ivf) —
only the |buckets| centroid table and the query x n_probe routing
table broadcast, and the bucket equi-join prunes every unprobed
partition of a label-bucketed corpus layout. The foreachBatch
skeleton is identical; only the ranker inside it changes. Exactness
story: the exact ranker matches the batch L3 tier bit for bit
(double dot products over float-widened values, 6-dp rounding at
output only), so its full DuckDB oracle applies — the drained stream
must hash-match the batch SQL answer; the IVF twin is approximate by
design and carries stream==batch-ranker multiset parity plus the
coverage-floor recall test instead.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from hadoop_log_analysis_spark.streaming.events_stream import run_drain


def stream_knn(
    queries_stream: DataFrame,
    corpus: DataFrame,
    k: int,
    name: str,
    out_dir: str,
    ranker: Callable[[DataFrame], DataFrame] | None = None,
    *,
    shuffle_partitions: int | None,
) -> DataFrame:
    """Drain a query stream through per-batch top-k retrieval.

    A foreachBatch drain (events_stream.run_drain, idempotent
    batch_id-keyed overwrite); each microbatch of queries goes through
    ``ranker`` — any batch function (q_id, qvec) -> (q_id, vec_id,
    sim, rn) — and only the k rows per query are written. The default
    ranker is the exact broadcast-corpus scan
    (operators.similarity.exact_topk_multi); pass an
    ``ivf_topk_multi`` closure for the corpus-past-broadcast route.
    ``shuffle_partitions`` applies for the drain, as in run_drain.
    Returns the read-back result for the whole drained feed.

    ``queries_stream`` is the ``events_stream.QUERY_VECTORS`` feed
    (q_id, ts_us, qvec).
    """
    from hadoop_log_analysis_spark.operators.similarity import (
        exact_topk_multi,
    )

    if ranker is None:
        ranker = lambda batch_df: exact_topk_multi(batch_df, corpus, k=k)  # noqa: E731
    shutil.rmtree(out_dir, ignore_errors=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            ranker(batch_df)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch_id={batch_id}"))
        )

    run_drain(
        queries_stream, name, foreach_batch=write_batch,
        shuffle_partitions=shuffle_partitions,
    )
    sink_schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("sim", T.DoubleType()),
            T.StructField("rn", T.IntegerType()),
            T.StructField("batch_id", T.LongType()),
        ]
    )
    return queries_stream.sparkSession.read.schema(sink_schema).parquet(
        out_dir
    ).drop("batch_id")
