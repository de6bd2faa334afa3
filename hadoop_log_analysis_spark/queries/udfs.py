"""UDF / UDAF / UDTF surface U1-U5 (SURVEY.md §2.9).

The escape hatches, ranked slow to fast: row-at-a-time Python UDF
(U1 — demonstrated, never used in hot paths), Arrow-vectorized pandas
UDFs (U2 scalar, U3 grouped-agg), applyInPandas grouped-map (U4), and
Python UDTF (U5). Each query computes something a plain SQL oracle
can also compute, so even the Python paths are hash-verified — the
UDF machinery itself is what's under test.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf, udf, udtf

from hadoop_log_analysis_spark.queries import query
from hadoop_log_analysis_spark.sources.catalog import scan


@query(
    "q_python_udf",
    oracle="""
        SELECT doc_id, length(text) % 97 AS len_mod
        FROM documents
        ORDER BY doc_id
    """,
    tags=("U1",),
)
def q_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: row-at-a-time scalar Python UDF (the slow path, verified
    against the equivalent SQL). ``useArrow=False`` names that path
    outright instead of leaving PySpark to infer it from the type
    hints, which it cannot do for a plain ``str -> int`` function."""

    @udf(returnType=T.LongType(), useArrow=False)
    def len_mod(s: str) -> int:
        return len(s) % 97

    docs = scan(spark, sf_dir, "documents")
    return docs.select("doc_id", len_mod("text").alias("len_mod")).orderBy("doc_id")


@query(
    "q_pandas_udf",
    oracle="""
        SELECT event_id, round(ln(1 + value) * 2.0, 6) AS lv
        FROM events
        ORDER BY event_id
    """,
    tags=("U2",),
)
def q_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: Arrow-vectorized scalar pandas UDF (Series -> Series)."""

    @pandas_udf(T.DoubleType())
    def log_boost(v: pd.Series) -> pd.Series:
        import numpy as np

        return np.log1p(v) * 2.0

    ev = scan(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.round(log_boost("value"), 6).alias("lv")
    ).orderBy("event_id")


@query(
    "q_pandas_udaf",
    oracle="""
        SELECT event_type, round(exp(avg(ln(value))), 6) AS geo_mean
        FROM events
        WHERE value > 0
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("U3",),
)
def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: grouped-agg pandas UDAF — geometric mean per event type.

    Positive-domain filter on BOTH engines (r6 sf0.1 sweep): the
    geometric mean is undefined at 0, and the engines fail
    DIFFERENTLY — DuckDB's ln(0) raises Out of Range while numpy's
    log(0) silently yields -inf and a 0.0 "mean". sf0.1 carries six
    value == 0 rows, so without the filter the oracle errors while
    Spark fabricates zeros.
    """

    @pandas_udf(T.DoubleType())
    def geo_mean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v).mean()))

    ev = scan(spark, sf_dir, "events").filter(F.col("value") > 0)
    return (
        ev.groupBy("event_type")
        .agg(F.round(geo_mean("value"), 6).alias("geo_mean"))
        .orderBy("event_type")
    )


@query(
    "q_apply_in_pandas",
    oracle="""
        SELECT user_id, round(max(abs((value - m) / sd)), 4) AS max_absz
        FROM (SELECT user_id, value,
                     avg(value) OVER (PARTITION BY user_id) AS m,
                     stddev_samp(value) OVER (PARTITION BY user_id) AS sd
              FROM events)
        GROUP BY user_id
        ORDER BY user_id
    """,
    tags=("U4",),
)
def q_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: grouped-map applyInPandas — per-user z-score normalization,
    reduced to the max |z| so the oracle stays SQL-expressible."""

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("max_absz", T.DoubleType()),
        ]
    )

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        z = (pdf["value"] - pdf["value"].mean()) / pdf["value"].std(ddof=1)
        return pd.DataFrame(
            {"user_id": [pdf["user_id"].iloc[0]], "max_absz": [z.abs().max()]}
        )

    ev = scan(spark, sf_dir, "events").select("user_id", "value")
    grouped = ev.groupBy("user_id").applyInPandas(normalize, out_schema)
    return grouped.select(
        "user_id", F.round("max_absz", 4).alias("max_absz")
    ).orderBy("user_id")


@query(
    "q_udtf",
    oracle="""
        SELECT tok, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id < 5)
        GROUP BY tok
        ORDER BY tok
    """,
    tags=("U5",),
)
def q_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: Python UDTF — one document row expands to one row per
    token; re-aggregated to token counts."""

    @udtf(returnType="tok: string")
    class Tokenize:
        def eval(self, text: str):
            for tok in text.split(" "):
                yield (tok,)

    spark.udtf.register("hla_tokenize", Tokenize)
    docs = scan(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    docs.createOrReplaceTempView("__udtf_docs")
    toks = spark.sql(
        "SELECT t.tok FROM __udtf_docs, LATERAL hla_tokenize(text) AS t"
    )
    return toks.groupBy("tok").agg(F.count("*").alias("n")).orderBy("tok")


@query(
    "q_udtf_polymorphic",
    oracle="""
        SELECT 'o_totalprice' AS col_name,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*) AS mean_val,
               min(o_totalprice) AS min_val,
               max(o_totalprice) AS max_val
        FROM orders
        UNION ALL
        SELECT 'p_retailprice',
               CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*),
               min(p_retailprice), max(p_retailprice)
        FROM part
        UNION ALL
        SELECT 'p_size',
               CAST(sum(CAST(p_size AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*),
               CAST(min(p_size) AS DOUBLE), CAST(max(p_size) AS DOUBLE)
        FROM part
        ORDER BY col_name
    """,
    tags=("U5", "dialect"),
)
def q_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5+: POLYMORPHIC Python UDTF — the output schema is computed at
    analysis time by the static ``analyze`` hook from whatever struct
    the caller passes, not declared up front. ``hla_melt`` unpivots
    any all-numeric struct into (col_name, val) rows, so one UDTF
    serves every table: here it melts one struct from `part` (two
    numeric columns) and one from `orders`, and the per-column profile
    (mean/min/max) is aggregated downstream in plain JVM aggregates.

    analyze() runs ONCE on the driver per call site (schema decision),
    eval() streams Arrow batches on executors — so polymorphism costs
    nothing per row. The profile shape mirrors what a stats collector
    runs over wide tables without writing one query per column.
    """
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class Melt:
        @staticmethod
        def analyze(row: AnalyzeArgument) -> AnalyzeResult:
            st = T.StructType()
            st = st.add("col_name", T.StringType()).add("val", T.DoubleType())
            return AnalyzeResult(schema=st)

        def eval(self, row):
            for name, value in row.asDict().items():
                if value is not None:
                    yield name, float(value)

    spark.udtf.register("hla_melt", udtf(Melt))
    scan(spark, sf_dir, "part").createOrReplaceTempView("__melt_part")
    scan(spark, sf_dir, "orders").createOrReplaceTempView("__melt_orders")
    melted = spark.sql(
        """
        SELECT m.col_name, m.val
        FROM __melt_part, LATERAL hla_melt(struct(p_retailprice, p_size)) m
        UNION ALL
        SELECT m.col_name, m.val
        FROM __melt_orders, LATERAL hla_melt(struct(o_totalprice)) m
        """
    )
    return (
        melted.groupBy("col_name")
        .agg(
            # vals are 2-dp money / small ints melted to double: the
            # exact DECIMAL view sums them exactly; min/max are
            # order-free over identical doubles
            (
                F.sum(F.col("val").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("mean_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .orderBy("col_name")
    )


@query(
    "q_map_in_arrow",
    oracle="""
        SELECT vec_id,
               round(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))), 4)
                   AS l2
        FROM embeddings
        ORDER BY vec_id
        LIMIT 100
    """,
    tags=("U2", "arrow", "L3"),
)
def q_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2+: ``mapInArrow`` — the lowest-overhead Python boundary:
    whole Arrow RecordBatches cross into Python with ZERO pandas
    conversion, and the vector math runs on numpy views of the Arrow
    buffers (list offsets + flat float32 values), so per-row Python
    cost is literally zero.

    Same L2-norm contract as the all-JVM q_embedding_norms (cast
    components to double FIRST, then square-sum — the shared
    cross-engine precision discipline), which makes the two queries a
    measured comparison point between a codegen'd higher-order
    expression and an Arrow-vectorized Python stage. Use mapInArrow
    over mapInPandas when the payload is arrays/binary: pandas would
    box each list element into a Python object; Arrow keeps the flat
    buffer."""
    import pyarrow as pa

    def norms(batches):
        import numpy as np

        for batch in batches:
            vec_ids = batch.column("vec_id")
            emb = batch.column("embedding")
            flat = np.asarray(emb.values, dtype=np.float64)
            offsets = np.asarray(emb.offsets)
            sq = flat * flat
            # Segmented sums via reduceat: sequential WITHIN each row,
            # no cross-row accumulation — a whole-batch cumsum would
            # smear O(batch_len * eps) error into every row's norm.
            l2 = np.sqrt(np.add.reduceat(sq, offsets[:-1]))
            l2[offsets[:-1] == offsets[1:]] = 0.0  # empty lists
            yield pa.RecordBatch.from_arrays(
                [vec_ids, pa.array(np.round(l2, 4), type=pa.float64())],
                names=["vec_id", "l2"],
            )

    emb = scan(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (
        emb.mapInArrow(norms, "vec_id long, l2 double")
        .orderBy("vec_id")
        .limit(100)
    )
