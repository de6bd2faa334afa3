"""Iterative graph analytics over corpus-derived graphs (SURVEY.md §2
extension family: the connected-components machinery in
operators/clustering.py already covers transitive closure; this module
adds NUMERIC iterative algorithms — fixed-iteration PageRank — the
other canonical shape a log/corpus pipeline runs on Spark).

Graph source: the token co-occurrence digraph of the documents table —
a distinct edge (src, dst) per adjacent token pair. The vocabulary is
engine-bounded (FIXTURES.md: ~31 tokens), so node/edge frames are tiny
relative to the corpus; at 100 TB the same holds for any bounded-vocab
graph (entities, hosts, services), which is exactly when driver-looped
joint iteration is the right Spark shape.

Scale posture: each PageRank iteration is one bounded join
(edges ⋈ ranks, both vocabulary-sized) plus a groupBy on dst —
shuffle volume O(|edges|) per iteration, never corpus-sized; the
corpus is read ONCE to build the edge list. The loop runs a FIXED
iteration count (deterministic, SQL-unrollable for the oracle) rather
than to convergence — the convergence-driven variant would reuse the
observed-metrics certificate from operators/clustering.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_log_analysis_spark.functions import exact_avg
from hadoop_log_analysis_spark.operators.partitioning import maybe_broadcast
from hadoop_log_analysis_spark.queries import query
from hadoop_log_analysis_spark.sources.catalog import scan, table_bytes

PR_DAMPING = 0.85
PR_ITERS = 3
# q_bfs_hops re-checkpoints its distance table every k levels; read at
# call time.
BFS_CHECKPOINT_EVERY_K = 1


def _support_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-occurrence edges (u < v) with >= 20 % document
    support — THE graph q_triangle_count and q_bfs_hops both analyze.
    One definition so the two queries (whose docstrings promise "the
    same edges") cannot drift apart (r4 review finding). The pair
    build is bounded by per-document distinct-token width; the support
    floor is a broadcast 1-row total.
    """
    docs = scan(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    tot = docs.agg(F.count("*").alias("n_docs"))
    return (
        toks.alias("a")
        .join(
            toks.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .select(F.col("a.tok").alias("u"), F.col("b.tok").alias("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("support"))
        .crossJoin(F.broadcast(tot))
        .where(F.col("support") * 5 >= F.col("n_docs"))
        .select("u", "v")
    )

# One iteration of the unrolled oracle: rank(v) <- 0.15 + 0.85 *
# sum over in-edges (u, v) of prev(u) / out_degree(u); nodes with no
# in-edges keep the teleport mass 0.15 (LEFT JOIN + coalesce). Dangling
# nodes (no out-edges) simply do not contribute — the same convention
# on both engines, documented rather than redistributed.
_PR_STEP = """
{out} AS (SELECT n.tok, 0.15 + 0.85 * coalesce(sum(r.r / deg.d), 0.0) AS r
          FROM nodes n
          LEFT JOIN edges e ON e.dst = n.tok
          LEFT JOIN deg ON deg.src = e.src
          LEFT JOIN {prev} r ON r.tok = e.src
          GROUP BY n.tok)"""


@query(
    "q_pagerank_tokens",
    oracle=f"""
        WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        edges AS (
          SELECT DISTINCT t[i] AS src, t[i + 1] AS dst
          FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)
        ),
        deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        nodes AS (SELECT src AS tok FROM edges UNION SELECT dst FROM edges),
        r0 AS (SELECT tok, 1.0 AS r FROM nodes),
        {_PR_STEP.format(out="r1", prev="r0")},
        {_PR_STEP.format(out="r2", prev="r1")},
        {_PR_STEP.format(out="r3", prev="r2")}
        SELECT tok, round(r, 6) AS rank FROM r3
        ORDER BY rank DESC, tok
    """,
    tags=("graph", "iterative", "J2", "A1", "L5"),
)
def q_pagerank_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (3 steps, damping 0.85, uniform 1.0
    seed) over the token co-occurrence digraph. The driver loop issues
    one bounded join + aggregate per iteration; the DuckDB oracle is
    the same recurrence unrolled into three CTEs, so the comparison
    pins every arithmetic choice (teleport constant, no-in-edge
    coalesce, dangling-node convention).

    Determinism: per-node contribution sums have <= |vocab| terms, so
    engine summation-order differences are ~1e-15 and the round(6)
    output is stable; ORDER BY is on the rounded rank with a token
    tie-break.

    Scale shape: the corpus is scanned once for the distinct edge
    list; every iteration shuffles O(|edges|) rows. Edges + degrees
    are cached across iterations so the scan is not re-executed per
    step (the checkpoint discipline SCALE.md requires of iterative
    plans).

    Plan-shape choices MEASURED at sf0.1 (3 fresh runs each):
    chained lineage 2.02-2.10 s; per-iteration localCheckpoint
    2.05-2.29 s (no win — 3 iterations is too shallow for lineage
    cost to matter); explicit broadcast() of the rank table into
    every iteration join 3.06-3.99 s (per-iteration broadcast
    construction round-trips dominate at vocabulary scale). So the
    joins stay hint-free: AQE converts them to broadcasts at runtime
    when the rank side is actually small, without the driver-side
    rebuild cost the explicit hint forces.
    """
    toks = scan(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("t")
    )
    pairs = F.expr(
        "transform(sequence(1, size(t) - 1), "
        "i -> struct(element_at(t, i) AS src, element_at(t, i + 1) AS dst))"
    )
    edges = (
        toks.select(F.explode(pairs).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
        .cache()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    nodes = (
        edges.select(F.col("src").alias("tok"))
        .union(edges.select(F.col("dst").alias("tok")))
        .distinct()
        .cache()  # re-read every iteration for the dangling-mass join
    )
    # (src, dst, d) is iteration-invariant: cache it once.
    adj = edges.join(deg, "src").cache()

    # try/finally: a failed iteration or checkpoint must still release
    # the caches, or the leak this cleanup exists to fix reappears on
    # the error path (r4 review).
    try:
        ranks = nodes.select("tok", F.lit(1.0).alias("r"))
        for _ in range(PR_ITERS):
            contribs = (
                adj.join(ranks.withColumnRenamed("tok", "src"), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("r") / F.col("d")).alias("c"))
            )
            ranks = nodes.join(
                contribs, nodes["tok"] == contribs["dst"], "left"
            ).select(
                "tok",
                (
                    F.lit(1 - PR_DAMPING)
                    + F.lit(PR_DAMPING) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("r"),
            )
        # Materialize the final ranks, then release the iteration
        # caches — without this every invocation pinned edges/adj
        # InMemoryRelations for the life of the session (r4 review).
        out = (
            ranks.select("tok", F.round("r", 6).alias("rank"))
            .orderBy(F.col("rank").desc(), "tok")
            .localCheckpoint(eager=True)
        )
    finally:
        edges.unpersist()
        nodes.unpersist()
        adj.unpersist()
    return out


@query(
    "q_triangle_count",
    oracle="""
        WITH tok AS (
          SELECT DISTINCT doc_id,
                 unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents),
        tot AS (SELECT count(*) AS n FROM documents),
        e AS (
          SELECT a.tok AS u, b.tok AS v
          FROM tok a JOIN tok b
            ON a.doc_id = b.doc_id AND a.tok < b.tok
          GROUP BY 1, 2
          HAVING count(*) * 5 >= (SELECT n FROM tot)),
        tri AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM e e1
          JOIN e e2 ON e2.u = e1.v
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        SELECT tok, count(*) AS n_triangles
        FROM (SELECT a AS tok FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
        GROUP BY tok
        ORDER BY tok
    """,
    tags=("J8", "graph"),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation in the token co-occurrence
    graph (edge = two tokens co-occurring in >= 20 % of documents) —
    the clustering-structure signal community detectors start from.

    The oracle enumerates triangles with the naive three-way edge
    self-join (correct, quadratic in edge skew); this side runs the
    degree-ordered "compact-forward" enumeration: orient every edge
    from its lower-(degree, token) endpoint to the higher one, build
    wedges only at each triangle's LOWEST-rank apex, and close them
    against the oriented edge list. Every triangle is found exactly
    once with out-degrees bounded by O(sqrt(m)) — the orientation is
    what makes triangle counting survive power-law degree skew at 100
    TB, where the naive join explodes on hub nodes. The degree table
    is vocabulary-sized and broadcast; the wedge build shuffles on the
    apex and the closure on the (dst, dst) pair, both well-spread
    under the rank orientation.
    """
    e = _support_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("tok"))
        .unionByName(e.select(F.col("v").alias("tok")))
        .groupBy("tok")
        .agg(F.count("*").alias("deg"))
    )
    # Orientation rank = (deg, tok); attach ranks to both endpoints
    # (deg is vocab-bounded -> broadcast) and orient low -> high.
    du = deg.select(
        F.col("tok").alias("u"), F.col("deg").alias("deg_u")
    )
    dv = deg.select(
        F.col("tok").alias("v"), F.col("deg").alias("deg_v")
    )
    er = e.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    fwd = F.col("deg_u") < F.col("deg_v")
    tie = (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    o = er.select(
        F.when(fwd | tie, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd | tie, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd | tie, F.col("deg_v")).otherwise(F.col("deg_u")).alias(
            "deg_dst"
        ),
    )
    e1 = o.select(
        F.col("src"), F.col("dst").alias("d1"), F.col("deg_dst").alias("g1")
    )
    e2 = o.select(
        F.col("src"), F.col("dst").alias("d2"), F.col("deg_dst").alias("g2")
    )
    wedges = e1.join(e2, "src").where(
        (F.col("g1") < F.col("g2"))
        | ((F.col("g1") == F.col("g2")) & (F.col("d1") < F.col("d2")))
    )
    closing = o.select(
        F.col("src").alias("d1"), F.col("dst").alias("d2")
    )
    tri = wedges.join(closing, ["d1", "d2"]).select("src", "d1", "d2")
    return (
        tri.select(
            F.explode(
                F.array(F.col("src"), F.col("d1"), F.col("d2"))
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy("tok")
    )


@query(
    "q_bfs_hops",
    oracle="""
        WITH RECURSIVE tok AS (
          SELECT DISTINCT doc_id,
                 unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents),
        tot AS (SELECT count(*) AS n FROM documents),
        eh AS (
          SELECT a.tok AS u, b.tok AS v
          FROM tok a JOIN tok b
            ON a.doc_id = b.doc_id AND a.tok < b.tok
          GROUP BY 1, 2
          HAVING count(*) * 5 >= (SELECT n FROM tot)),
        e AS (SELECT u, v FROM eh UNION ALL SELECT v, u FROM eh),
        walk(tok, d) AS (
          SELECT 'spark' AS tok, 0 AS d
          UNION
          SELECT e.v, walk.d + 1
          FROM walk JOIN e ON e.u = walk.tok
          WHERE walk.d < 10)
        SELECT tok, CAST(min(d) AS INT) AS hops
        FROM walk GROUP BY tok ORDER BY hops, tok
    """,
    tags=("graph", "J2", "iterative"),
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS over the token co-occurrence graph (same >=
    20 %-support edges as q_triangle_count): minimum hop distance from
    the seed token 'spark' to every reachable token.

    The oracle walks the graph with a recursive CTE (set-semantics
    UNION bounds the state to (node, depth) pairs); this side runs the
    distributed frontier-expansion loop: each iteration joins the
    current frontier against the edge list, anti-joins out already-
    visited nodes, and stops when the frontier drains — O(diameter)
    bounded shuffles, the same iterate-until-fixpoint machinery as
    connected components (operators/clustering.py), with a
    localCheckpoint per level so the plan lineage stays flat. Per-
    iteration driver state is one boolean (frontier empty?); the
    distance table lives distributed.
    """
    half = _support_edges(spark, sf_dir)
    edges = half.unionByName(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)

    # The seed is a 1-row LOCAL frame (no lineage to cut): its eager
    # checkpoint was a wasted job. The per-level dist re-checkpoint
    # (BFS_CHECKPOINT_EVERY_K = 1) is the default after an A/B (7-run
    # medians at sf0.1: eager 1.58 s, lazy 1.76 s, no-checkpoint
    # 2.03 s — per-level planning over a growing k-way union of blocks
    # costs more locally than the cheap rewrite of the tiny distance
    # table). At true scale the trade reverses for DEEP graphs (the
    # rewrite is a full distance-table pass per level while
    # union-of-blocks is append-only I/O): k > 1 re-checkpoints dist
    # only every k levels — between checkpoints dist stays a lazy union
    # of the per-level frontier blocks, each of which IS eagerly
    # checkpointed (the observation rides that job), so plans stay flat
    # either way. Output is k-invariant
    # (tests/test_properties.py::test_bfs_checkpoint_cadence_invariant).
    ckpt_every = BFS_CHECKPOINT_EVERY_K
    seed = spark.createDataFrame([("spark", 0)], "tok string, hops int")
    dist = seed
    frontier = seed
    for depth in range(1, 11):
        # frontier-drained check rides the checkpoint job as an
        # OBSERVED metric (the connected_components certificate
        # pattern) instead of a separate isEmpty() take-job: one job
        # per level, not two.
        obs = Observation()
        nxt = (
            frontier.join(edges, frontier["tok"] == edges["u"])
            .select(F.col("v").alias("tok"))
            .distinct()
            .join(dist, "tok", "left_anti")
            .withColumn("hops", F.lit(depth))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if obs.get["n"] == 0:
            break
        dist = dist.unionByName(nxt)
        if depth % ckpt_every == 0:
            dist = dist.localCheckpoint(eager=True)
        frontier = nxt
    return dist.orderBy("hops", "tok")


LP_ITERS = 3

# One synchronous label-propagation step, unrolled for the oracle:
# each node adopts the most frequent label among its neighbors,
# breaking count ties toward the smallest label — fully deterministic,
# so 3 fixed iterations hash-match across engines.
_LP_STEP = """
{out} AS (SELECT v AS tok, lab AS community
          FROM (SELECT nb.v, l.community AS lab, count(*) AS c,
                       row_number() OVER (PARTITION BY nb.v
                                          ORDER BY count(*) DESC,
                                                   l.community ASC) AS rn
                FROM nb JOIN {prev} l ON l.tok = nb.u
                GROUP BY nb.v, l.community)
          WHERE rn = 1)"""


@query(
    "q_label_propagation",
    oracle=f"""
        WITH tok AS (
          SELECT DISTINCT doc_id,
                 unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents),
        tot AS (SELECT count(*) AS n FROM documents),
        e AS (
          SELECT a.tok AS u, b.tok AS v
          FROM tok a JOIN tok b
            ON a.doc_id = b.doc_id AND a.tok < b.tok
          GROUP BY 1, 2
          HAVING count(*) * 5 >= (SELECT n FROM tot)),
        nb AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        l0 AS (SELECT DISTINCT u AS tok, u AS community FROM nb),
        {_LP_STEP.format(out="l1", prev="l0")},
        {_LP_STEP.format(out="l2", prev="l1")},
        {_LP_STEP.format(out="l3", prev="l2")}
        SELECT tok, community FROM l3
        ORDER BY tok
    """,
    tags=("graph", "iterative", "W1"),
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (3 fixed
    iterations) over the SAME >=20%-support co-occurrence graph
    q_triangle_count and q_bfs_hops analyze (_support_edges — one
    definition, shared). Each step every node adopts its neighbors'
    modal label, count ties broken toward the smallest label — the
    deterministic variant of Raghavan et al.'s LPA (random tie-breaks
    would be un-oracle-able; fixed iterations instead of convergence
    keeps the recurrence SQL-unrollable, the q_pagerank_tokens
    discipline).

    Scale shape: each iteration is one join of the (cached) neighbor
    list against the current vocabulary-sized label frame plus a
    windowed modal pick partitioned by node — shuffle O(|edges|) per
    step, never corpus-sized; the corpus is read once to build edges.
    """
    edges = _support_edges(spark, sf_dir).cache()
    nb = (
        edges.select(F.col("u"), F.col("v"))
        .unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .cache()
    )
    try:
        labels = nb.select(F.col("u").alias("tok")).distinct().select(
            "tok", F.col("tok").alias("community")
        )
        w = Window.partitionBy("v").orderBy(F.desc("c"), F.asc("community"))
        for _ in range(LP_ITERS):
            counts = (
                nb.join(labels.withColumnRenamed("tok", "u"), "u")
                .groupBy("v", "community")
                .agg(F.count("*").alias("c"))
            )
            labels = (
                counts.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("v").alias("tok"), "community")
            )
        out = labels.orderBy("tok").localCheckpoint(eager=True)
    finally:
        edges.unpersist()
        nb.unpersist()
    return out


@query(
    "q_adamic_adar",
    oracle="""
        WITH basket AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        sz AS (
          SELECT l_orderkey, count(*) AS n
          FROM basket GROUP BY l_orderkey),
        pairs AS (
          SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                 count(*) AS common_orders,
                 CAST(sum(CAST(floor((1.0 / ln(s.n)) * 1000000.0 + 0.5)
                               AS BIGINT)) AS DOUBLE) / 1000000.0
                   AS aa_score
          FROM basket a
          JOIN basket b ON b.l_orderkey = a.l_orderkey
                       AND b.l_partkey > a.l_partkey
          JOIN sz s ON s.l_orderkey = a.l_orderkey
          WHERE s.n >= 2
          GROUP BY part_a, part_b
          HAVING count(*) >= 2)
        SELECT part_a, part_b, common_orders, aa_score
        FROM pairs
        ORDER BY aa_score DESC, part_a, part_b
        LIMIT 20
    """,
    tags=("J8", "A1", "graph", "W2"),
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the order-basket bipartite
    graph: for part pairs co-occurring in >= 2 orders, score each pair
    by sum(1/ln(basket size)) over shared orders — shared SMALL
    baskets are stronger evidence of affinity than shared big ones —
    and return the top-20 predicted links.

    Scale shape: the pair generator is a SELF-JOIN WITHIN the order
    key, so the blow-up is bounded by basket size (max 13 parts ->
    <= 78 pairs per order at every SF; baskets are size-capped by the
    workload, not the corpus), never an all-pairs cartesian over
    parts. Both join legs hash-partition on the order key — one
    shuffle, co-located — and the pair aggregate collapses map-side.
    The HAVING >= 2 prunes the singleton-pair tail (the vast majority)
    before the final top-k, which is a 20-row TakeOrdered, not a
    global sort. Determinism: each 1/ln(n) term is pinned to a 1e-6
    integer grid per ROW (shrinking JVM-vs-DuckDB libm ln last-ulp
    wobble to a ~1e-10 per-row boundary-flip residual — floor still
    flips within one ulp of a grid line) and summed exactly, so the
    score every engine sorts on is
    bit-identical — the r7 exact-integer pattern, replacing the
    fragile round-the-float-sum pin; ties break on the pair key.
    """
    basket = (
        scan(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    sz = basket.groupBy(F.col("l_orderkey").alias("o_key")).agg(
        F.count("*").alias("n")
    )
    a = basket.alias("a")
    b = basket.alias("b")
    return (
        a.join(
            b,
            (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("b.l_partkey") > F.col("a.l_partkey")),
        )
        .join(sz.filter(F.col("n") >= 2), F.col("a.l_orderkey") == F.col("o_key"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(
            F.count("*").alias("common_orders"),
            (
                F.sum(
                    F.floor(
                        (1.0 / F.log(F.col("n"))) * F.lit(1000000.0)
                        + F.lit(0.5)
                    )
                ).cast("double")
                / F.lit(1000000.0)
            ).alias("aa_score"),
        )
        .filter(F.col("common_orders") >= 2)
        .orderBy(F.desc("aa_score"), "part_a", "part_b")
        .limit(20)
    )


@query(
    "q_degree_powerlaw",
    oracle="""
        WITH basket AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
          FROM basket a
          JOIN basket b ON b.l_orderkey = a.l_orderkey
                       AND b.l_partkey > a.l_partkey),
        und AS (
          SELECT pa AS p, pb AS q FROM pairs
          UNION ALL SELECT pb, pa FROM pairs),
        deg AS (SELECT p, count(*) AS d FROM und GROUP BY p),
        hist AS (SELECT d, count(*) AS n FROM deg GROUP BY d),
        pts AS (SELECT ln(d * 1.0) AS x, ln(n * 1.0) AS y FROM hist),
        fit AS (
          SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
                 sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
          FROM pts)
        SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
               CAST((SELECT max(d) FROM deg) AS BIGINT) AS max_degree,
               round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4)
                 AS slope,
               round(pow(k * sxy - sx * sy, 2)
                     / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 4)
                 AS r2
        FROM fit
    """,
    tags=("J8", "A5", "graph"),
)
def q_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph with a
    log-log power-law fit: node degrees, the degree histogram, and
    the OLS slope/R² of ln(count) vs ln(degree) — the scale-free-ness
    check that sizes skew mitigation (a -2ish slope with high R²
    means hub parts exist and salting budgets should assume them;
    q_skew_report measures key skew, this measures GRAPH skew).

    Scale shape: pair generation self-joins WITHIN the order key
    (basket-bounded, the q_adamic_adar generator); degrees are one
    hash agg over undirected edge endpoints; the histogram is
    degree-bounded and the OLS fit is closed-form sums over that
    bounded frame — no iteration, no corpus-scale window. ln() feeds
    sums of |distinct degrees| terms rounded at 4 dp.
    """
    basket = (
        scan(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = basket.alias("a"), basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("b.l_partkey") > F.col("a.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .distinct()
    )
    und = pairs.select(F.col("pa").alias("p")).unionAll(
        pairs.select(F.col("pb").alias("p"))
    )
    deg = und.groupBy("p").agg(F.count("*").alias("d"))
    hist = deg.groupBy("d").agg(F.count("*").alias("n"))
    pts = hist.select(
        F.log(F.col("d") * 1.0).alias("x"), F.log(F.col("n") * 1.0).alias("y")
    )
    fit = pts.agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    scalars = (
        deg.agg(
            F.count("*").alias("n_nodes"), F.max("d").alias("max_degree")
        )
        .crossJoin(F.broadcast(pairs.agg(F.count("*").alias("n_edges"))))
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        scalars.crossJoin(F.broadcast(fit))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("max_degree").cast("long").alias("max_degree"),
            F.round(num / den, 4).alias("slope"),
            F.round(F.pow(num, 2) / (den * deny), 4).alias("r2"),
        )
    )


@query(
    "q_hits_scores",
    oracle="""
        WITH e AS (
          SELECT DISTINCT doc_id, tok
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents)),
        df AS (SELECT tok, count(*) AS d FROM e GROUP BY tok),
        nd AS (SELECT count(DISTINCT doc_id) AS n FROM e),
        ek AS (SELECT e.doc_id, e.tok FROM e
               JOIN df ON df.tok = e.tok
               WHERE df.d >= 2 AND df.d <= 0.9 * (SELECT n FROM nd)),
        a1 AS (SELECT tok, count(*) * 1.0 AS s FROM ek GROUP BY tok),
        n1 AS (SELECT sqrt(sum(s * s)) AS z FROM a1),
        a1n AS (SELECT tok, s / (SELECT z FROM n1) AS a FROM a1),
        h1 AS (SELECT ek.doc_id, sum(a1n.a) AS s
               FROM ek JOIN a1n ON a1n.tok = ek.tok
               GROUP BY ek.doc_id),
        n2 AS (SELECT sqrt(sum(s * s)) AS z FROM h1),
        h1n AS (SELECT doc_id, s / (SELECT z FROM n2) AS h FROM h1),
        a2 AS (SELECT ek.tok, sum(h1n.h) AS s
               FROM ek JOIN h1n ON h1n.doc_id = ek.doc_id
               GROUP BY ek.tok),
        n3 AS (SELECT sqrt(sum(s * s)) AS z FROM a2)
        SELECT a2.tok,
               CAST(df.d AS BIGINT) AS df,
               round(a2.s / (SELECT z FROM n3), 6) AS authority
        FROM a2 JOIN df ON df.tok = a2.tok
        ORDER BY authority DESC, a2.tok
        LIMIT 15
    """,
    tags=("J2", "A1", "graph", "iterative"),
)
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (hubs & authorities, Kleinberg) over the doc-token
    bipartite graph, TWO power iterations unrolled: authority(token)
    <- sum of hub(doc) over containing docs; hub(doc) <- sum of
    authority(token) over its tokens; L2-normalized each step.
    Authoritative tokens are those carried by strong hub documents —
    a different signal from raw df (PageRank's token twin lives at
    q_pagerank_tokens; HITS adds the dual hub view). The df band
    [2, 0.9 * |docs|] drops singletons and near-universal stopword
    tokens first — RELATIVE cap, so the band survives corpus growth
    where an absolute cut silently empties or floods.

    Scale shape: each half-iteration is ONE edge-keyed hash agg
    (word-count shuffle shape) plus a broadcast scalar normalizer —
    the unrolled form keeps the whole thing oracle-able (fixed
    iteration count), unlike the driver-looped pagerank; at more
    iterations, switch to the loop with lineage cuts. All four
    normalizers derive from sums whose inputs are exact counts or
    once-normalized doubles; authority rounds at 6 dp with a token
    tie-break before the top-15 TakeOrdered.
    """
    e = (
        scan(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    df_t = e.groupBy("tok").agg(F.count("*").alias("d"))
    # r14 OPTIMIZATION (guide §2.4 / §5 driver): n_docs was a DRIVER
    # count() action — a separate execution, so the corpus explode +
    # distinct ran once for it and again for the query itself
    # (runtime Exchange reuse is per-execution and cannot span
    # actions; at 100 TB the action is a wasted full corpus pass).
    # As a broadcast 1-row aggregate the band filter stays fully lazy
    # inside the one execution, where every e-subtree shares the
    # reused distinct Exchange. 0.9 * n_docs is the same double
    # arithmetic on the same exact count either way.
    n_docs = e.agg(F.countDistinct("doc_id").alias("n_docs"))
    ek = e.join(
        df_t.crossJoin(F.broadcast(n_docs))
        .filter((F.col("d") >= 2) & (F.col("d") <= 0.9 * F.col("n_docs")))
        .select("tok", "d"),
        "tok",
    )
    a1 = ek.groupBy("tok").agg((F.count("*") * 1.0).alias("s"))
    n1 = a1.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("z"))
    a1n = a1.crossJoin(F.broadcast(n1)).select(
        "tok", (F.col("s") / F.col("z")).alias("a")
    )
    h1 = (
        ek.select("doc_id", "tok")
        .join(a1n, "tok")
        .groupBy("doc_id")
        .agg(F.sum("a").alias("s"))
    )
    n2 = h1.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("z"))
    h1n = h1.crossJoin(F.broadcast(n2)).select(
        "doc_id", (F.col("s") / F.col("z")).alias("h")
    )
    a2 = (
        ek.select("doc_id", "tok")
        .join(h1n, "doc_id")
        .groupBy("tok")
        .agg(F.sum("h").alias("s"))
    )
    n3 = a2.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("z"))
    return (
        a2.crossJoin(F.broadcast(n3))
        .join(df_t, "tok")
        .select(
            "tok",
            F.col("d").cast("long").alias("df"),
            F.round(F.col("s") / F.col("z"), 6).alias("authority"),
        )
        .orderBy(F.desc("authority"), "tok")
        .limit(15)
    )


@query(
    "q_graph_assortativity",
    oracle="""
        WITH basket AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
          FROM basket a
          JOIN basket b ON b.l_orderkey = a.l_orderkey
                       AND b.l_partkey > a.l_partkey),
        und AS (
          SELECT pa AS p, pb AS q FROM pairs
          UNION ALL SELECT pb, pa FROM pairs),
        deg AS (SELECT p, count(*) AS d FROM und GROUP BY p),
        ed AS (
          SELECT da.d AS dx, db.d AS dy
          FROM und u
          JOIN deg da ON da.p = u.p
          JOIN deg db ON db.p = u.q),
        s AS (
          SELECT count(*) AS n, sum(dx) AS sx, sum(dy) AS sy,
                 sum(dx * dy) AS sxy, sum(dx * dx) AS sxx,
                 sum(dy * dy) AS syy
          FROM ed)
        SELECT CAST(n / 2 AS BIGINT) AS n_edges,
               floor((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                     * 10000.0 + 0.5) / 10000.0 AS mean_degree,
               floor((CAST(n * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                         * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))
                     * 1000000.0 + 0.5) / 1000000.0 AS assortativity
        FROM s
    """,
    tags=("J8", "A5", "graph"),
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph: the Pearson
    correlation of endpoint degrees over all (directed-both-ways)
    edges — do hub parts co-occur with other hubs (assortative, r>0)
    or with the long tail (disassortative, r<0)? Together with
    q_degree_powerlaw this fixes the graph's skew PROFILE: power-law
    + disassortative means hub-tail joins dominate and salting the
    hub side alone suffices; assortative hubs mean hub-hub pair
    explosions need the bucket cap too.

    Scale shape: reuses the basket-bounded pair generator; degrees
    are one hash agg; the edge-degree join is two broadcast-able
    dimension joins (degree table is |parts|-bounded); the Pearson r
    comes from five EXACT integer sufficient statistics (degrees are
    integers, so n·Σxy−ΣxΣy etc. are order-free integer algebra —
    engine-internal streaming corr() is order-sensitive), with the
    one double division + IEEE-exact sqrt identical on both engines;
    outputs are floor-pinned, not round()ed.
    """
    basket = (
        scan(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = basket.alias("a"), basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("b.l_partkey") > F.col("a.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .distinct()
    )
    und = pairs.select(
        F.col("pa").alias("p"), F.col("pb").alias("q")
    ).unionAll(pairs.select(F.col("pb").alias("p"), F.col("pa").alias("q")))
    deg = und.groupBy("p").agg(F.count("*").alias("d"))
    ed = (
        und.join(deg.select(F.col("p").alias("p1"), F.col("d").alias("dx")),
                 F.col("p") == F.col("p1"))
        .join(deg.select(F.col("p").alias("p2"), F.col("d").alias("dy")),
              F.col("q") == F.col("p2"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = ed.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("dx"))).alias("sx"),
        F.sum(dec(F.col("dy"))).alias("sy"),
        F.sum(dec(F.col("dx") * F.col("dy"))).alias("sxy"),
        F.sum(dec(F.col("dx") * F.col("dx"))).alias("sxx"),
        F.sum(dec(F.col("dy") * F.col("dy"))).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return s.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        (
            F.floor(
                (F.col("sx").cast("double") / F.col("n").cast("double"))
                * F.lit(10000.0)
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("mean_degree"),
        (
            F.floor(
                (num / (F.sqrt(varx) * F.sqrt(vary))) * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("assortativity"),
    )


@query(
    "q_two_core",
    oracle="""
        WITH basket AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
          FROM basket a
          JOIN basket b ON b.l_orderkey = a.l_orderkey
                       AND b.l_partkey > a.l_partkey),
        e0 AS (SELECT pa AS p, pb AS q FROM pairs
               UNION ALL SELECT pb, pa FROM pairs),
        d0 AS (SELECT p, count(*) AS d FROM e0 GROUP BY p),
        keep1 AS (SELECT p FROM d0 WHERE d >= 2),
        e1 AS (SELECT e.p, e.q FROM e0 e
               JOIN keep1 k1 ON k1.p = e.p
               JOIN keep1 k2 ON k2.p = e.q),
        d1 AS (SELECT p, count(*) AS d FROM e1 GROUP BY p),
        keep2 AS (SELECT p FROM d1 WHERE d >= 2),
        e2 AS (SELECT e.p, e.q FROM e1 e
               JOIN keep2 k1 ON k1.p = e.p
               JOIN keep2 k2 ON k2.p = e.q),
        d2 AS (SELECT p, count(*) AS d FROM e2 GROUP BY p)
        SELECT CAST((SELECT count(*) FROM d0) AS BIGINT) AS n_nodes,
               CAST((SELECT count(*) FROM keep1) AS BIGINT)
                 AS n_after_pass1,
               CAST((SELECT count(*) FROM d2 WHERE d >= 2) AS BIGINT)
                 AS n_core_nodes,
               CAST((SELECT coalesce(sum(d), 0) / 2 FROM d2 WHERE d >= 2)
                 AS BIGINT) AS core_edges_lb,
               CAST((SELECT coalesce(max(d), 0) FROM d2) AS BIGINT)
                 AS max_core_degree
        FROM (SELECT 1)
    """,
    tags=("J8", "A1", "graph", "iterative"),
)
def q_two_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core peeling of the co-purchase graph, TWO pruning passes
    unrolled: drop degree<2 nodes, recompute degrees on the induced
    subgraph, drop again — the dense-core extraction that separates
    structurally-connected parts from dangling one-off pairings
    (community detection and dedup-cluster triage both start from
    the core). Two unrolled passes keep the query oracle-able (the
    fixed-point loop version belongs with pagerank's driver loop).

    Scale shape: each peel is one degree hash agg + two semi-join-
    shaped hash joins against the (node)-bounded keep list — the
    keep list broadcasts once it shrinks below the threshold, which
    is exactly what peeling does; no adjacency windows, no cartesian.
    All counts are exact integers.
    """
    basket = (
        scan(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = basket.alias("a"), basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("b.l_partkey") > F.col("a.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .distinct()
    )
    e0 = pairs.select(F.col("pa").alias("p"), F.col("pb").alias("q")).unionAll(
        pairs.select(F.col("pb").alias("p"), F.col("pa").alias("q"))
    )

    def degrees(e):
        return e.groupBy("p").agg(F.count("*").alias("d"))

    def peel(e, keep):
        k1 = keep.select(F.col("p").alias("kp"))
        k2 = keep.select(F.col("p").alias("kq"))
        return (
            e.join(k1, F.col("p") == F.col("kp"))
            .join(k2, F.col("q") == F.col("kq"))
            .select("p", "q")
        )

    d0 = degrees(e0)
    keep1 = d0.filter(F.col("d") >= 2).select("p")
    e1 = peel(e0, keep1)
    d1 = degrees(e1)
    keep2 = d1.filter(F.col("d") >= 2).select("p")
    e2 = peel(e1, keep2)
    d2 = degrees(e2)
    core = d2.filter(F.col("d") >= 2)
    n0 = d0.agg(F.count("*").alias("n_nodes"))
    n1 = keep1.agg(F.count("*").alias("n_after_pass1"))
    nc = core.agg(
        F.count("*").alias("n_core_nodes"),
        (F.coalesce(F.sum("d"), F.lit(0)) / 2)
        .cast("long")
        .alias("core_edges_lb"),
    )
    md = d2.agg(
        F.coalesce(F.max("d"), F.lit(0)).cast("long").alias("max_core_degree")
    )
    return (
        n0.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(md))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_after_pass1").cast("long").alias("n_after_pass1"),
            F.col("n_core_nodes").cast("long").alias("n_core_nodes"),
            "core_edges_lb",
            "max_core_degree",
        )
    )


ITEM_CF_K = 5  # neighbors kept per item


@query(
    "q_item_cf_topk",
    oracle=f"""
        WITH basket AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        deg AS (
          SELECT l_partkey, count(*) AS n
          FROM basket GROUP BY l_partkey),
        pairs AS (
          SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                 count(*) AS c
          FROM basket a
          JOIN basket b ON b.l_orderkey = a.l_orderkey
                       AND b.l_partkey <> a.l_partkey
          GROUP BY pa, pb
          HAVING count(*) >= 2),
        scored AS (
          SELECT p.pa, p.pb, p.c,
                 floor((p.c / sqrt(da.n * db.n)) * 1000000.0 + 0.5)
                   / 1000000.0 AS cosine
          FROM pairs p
          JOIN deg da ON da.l_partkey = p.pa
          JOIN deg db ON db.l_partkey = p.pb),
        ranked AS (
          SELECT pa, pb, c, cosine,
                 CAST(row_number() OVER (PARTITION BY pa
                        ORDER BY cosine DESC, pb) AS BIGINT) AS rank
          FROM scored)
        SELECT pa AS part, pb AS neighbor,
               CAST(c AS BIGINT) AS common_orders, cosine, rank
        FROM ranked WHERE rank <= {ITEM_CF_K}
        ORDER BY part, rank
    """,
    tags=("J8", "W2", "A1", "graph"),
)
def q_item_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: for each part, its top-5
    most-similar parts by COSINE over order co-occurrence
    (c / sqrt(n_a * n_b) — the normalization that stops bestsellers
    from being everyone's neighbor, which raw co-counts like
    q_basket_lift's support suffer). The people-who-bought-X
    recommender primitive, materialized as a neighbor table.

    Scale shape: the pair generator self-joins WITHIN the order key
    (basket-bounded, shared with q_adamic_adar); degrees broadcast
    back onto the pair aggregate; HAVING >= 2 prunes the singleton
    tail BEFORE ranking; the top-k window partitions by part over
    its pruned candidate list (co-occurrence-bounded, never
    corpus-wide). Cosine derives from exact integer counts, rounded
    at 6 dp before the rank order with a neighbor tie-break.
    """
    basket = (
        scan(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    deg = basket.groupBy(F.col("l_partkey").alias("dk")).agg(
        F.count("*").alias("n")
    )
    a, b = basket.alias("a"), basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("b.l_partkey") != F.col("a.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )
    scored = (
        pairs.join(
            deg.select(F.col("dk").alias("ka"), F.col("n").alias("na")),
            F.col("pa") == F.col("ka"),
        )
        .join(
            deg.select(F.col("dk").alias("kb"), F.col("n").alias("nb")),
            F.col("pb") == F.col("kb"),
        )
        .select(
            "pa",
            "pb",
            "c",
            # floor-pin: na=nb makes sqrt(na*nb) an integer, so the
            # cosine is an exact integer ratio (midpoint-capable) AND
            # the rank ORDER key — engine round() tie-breaks diverge.
            (
                F.floor(
                    (F.col("c") / F.sqrt(F.col("na") * F.col("nb")))
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("pa").orderBy(F.desc("cosine"), "pb")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= ITEM_CF_K)
        .select(
            F.col("pa").alias("part"),
            F.col("pb").alias("neighbor"),
            F.col("c").cast("long").alias("common_orders"),
            "cosine",
            "rank",
        )
        .orderBy("part", "rank")
    )


@query(
    "q_rec_eval",
    oracle=f"""
        WITH basket AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        deg AS (
          SELECT l_partkey, count(*) AS n
          FROM basket GROUP BY l_partkey),
        pairs AS (
          SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
          FROM basket a
          JOIN basket b ON b.l_orderkey = a.l_orderkey
                       AND b.l_partkey <> a.l_partkey
          GROUP BY pa, pb HAVING count(*) >= 2),
        scored AS (
          SELECT p.pa, p.pb,
                 floor((p.c / sqrt(da.n * db.n)) * 1000000.0 + 0.5)
                   / 1000000.0 AS cosine
          FROM pairs p
          JOIN deg da ON da.l_partkey = p.pa
          JOIN deg db ON db.l_partkey = p.pb),
        topk AS (
          SELECT pa, pb FROM (
            SELECT pa, pb,
                   row_number() OVER (PARTITION BY pa
                     ORDER BY cosine DESC, pb) AS rank
            FROM scored) WHERE rank <= {ITEM_CF_K}),
        lists AS (
          SELECT t.pa,
                 count(*) AS k_actual,
                 count(DISTINCT pp.p_brand) AS n_brands
          FROM topk t
          JOIN part pp ON pp.p_partkey = t.pb
          GROUP BY t.pa),
        cat AS (SELECT count(*) AS n_parts FROM part),
        rec AS (SELECT count(DISTINCT pb) AS n_recommended FROM topk)
        SELECT CAST((SELECT n_parts FROM cat) AS BIGINT) AS catalog_size,
               CAST(count(*) AS BIGINT) AS n_lists,
               CAST((SELECT n_recommended FROM rec) AS BIGINT)
                 AS n_recommended,
               floor(((SELECT n_recommended FROM rec) * 1.0
                      / (SELECT n_parts FROM cat)) * 1000000.0 + 0.5)
                 / 1000000.0 AS coverage,
               CAST(sum(CAST(floor((n_brands * 1.0 / k_actual)
                                   * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                 / (CAST(count(n_brands * 1.0 / k_actual) AS DOUBLE)
                    * 1000000.0)
                 AS avg_brand_diversity
        FROM lists
    """,
    tags=("A1", "A3", "graph", "eval"),
)
def q_rec_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender-quality evaluation of the q_item_cf_topk neighbor
    table: catalog COVERAGE@k (what fraction of parts ever get
    recommended — low coverage means the recommender only surfaces
    head items) and average intra-list BRAND DIVERSITY (distinct
    brands per top-5 list — accuracy metrics alone reward five
    near-identical neighbors). The two offline metrics that catch
    popularity bias before an A/B test does.

    Scale shape: rebuilds the CF neighbor table (same basket-bounded
    machinery), joins the part dim (broadcast) for brands, then two
    |parts|-bounded aggregates and scalar algebra. All ratios are
    exact integer quotients rounded at 6 dp.
    """
    basket = (
        scan(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    deg = basket.groupBy(F.col("l_partkey").alias("dk")).agg(
        F.count("*").alias("n")
    )
    a, b = basket.alias("a"), basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("b.l_partkey") != F.col("a.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )
    scored = (
        pairs.join(
            deg.select(F.col("dk").alias("ka"), F.col("n").alias("na")),
            F.col("pa") == F.col("ka"),
        )
        .join(
            deg.select(F.col("dk").alias("kb"), F.col("n").alias("nb")),
            F.col("pb") == F.col("kb"),
        )
        .select(
            "pa",
            "pb",
            # floor-pin: na=nb makes sqrt(na*nb) an integer, so the
            # cosine is an exact integer ratio (midpoint-capable) AND
            # the rank ORDER key — engine round() tie-breaks diverge.
            (
                F.floor(
                    (F.col("c") / F.sqrt(F.col("na") * F.col("nb")))
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("pa").orderBy(F.desc("cosine"), "pb")
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ITEM_CF_K)
        .select("pa", "pb")
    )
    part = scan(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lists = (
        topk.join(
            maybe_broadcast(part, table_bytes(sf_dir, "part")),
            F.col("pb") == F.col("p_partkey"),
        )
        .groupBy("pa")
        .agg(
            F.count("*").alias("k_actual"),
            F.countDistinct("p_brand").alias("n_brands"),
        )
    )
    cat = part.agg(F.count("*").alias("n_parts"))
    rec = topk.agg(F.countDistinct("pb").alias("n_recommended"))
    return (
        lists.agg(
            F.count("*").cast("long").alias("n_lists"),
            # exact_avg: per-list ratios of identical small ints pin
            # to the 1e-6 grid per ROW, sum as exact int64, ONE
            # double division — a float avg of the ratios would be
            # partition-order-dependent, so pinning only the final
            # avg pins two engines' slightly-different doubles.
            exact_avg(F.col("n_brands") * 1.0 / F.col("k_actual"), 6).alias(
                "avg_brand_diversity"
            ),
        )
        .crossJoin(F.broadcast(cat))
        .crossJoin(F.broadcast(rec))
        .select(
            F.col("n_parts").cast("long").alias("catalog_size"),
            "n_lists",
            F.col("n_recommended").cast("long").alias("n_recommended"),
            (
                F.floor(
                    (F.col("n_recommended") * 1.0 / F.col("n_parts"))
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("coverage"),
            "avg_brand_diversity",
        )
    )


@query(
    "q_clustering_coefficient",
    oracle="""
        WITH tok AS (
          SELECT DISTINCT doc_id,
                 unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents),
        tot AS (SELECT count(*) AS n FROM documents),
        e AS (
          SELECT a.tok AS u, b.tok AS v
          FROM tok a JOIN tok b
            ON a.doc_id = b.doc_id AND a.tok < b.tok
          GROUP BY 1, 2
          HAVING count(*) * 5 >= (SELECT n FROM tot)),
        deg AS (
          SELECT tok, count(*) AS d
          FROM (SELECT u AS tok FROM e UNION ALL SELECT v FROM e)
          GROUP BY tok),
        tri AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM e e1
          JOIN e e2 ON e2.u = e1.v
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        t AS (
          SELECT tok, count(*) AS nt
          FROM (SELECT a AS tok FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri)
          GROUP BY tok)
        SELECT deg.tok, CAST(deg.d AS BIGINT) AS degree,
               CAST(coalesce(t.nt, 0) AS BIGINT) AS n_triangles,
               CAST((2 * (2 * coalesce(t.nt, 0) * 1000000)
                     + deg.d * (deg.d - 1))
                    // (2 * deg.d * (deg.d - 1)) AS DOUBLE)
               / 1000000.0 AS coeff
        FROM deg LEFT JOIN t ON t.tok = deg.tok
        WHERE deg.d >= 2
        ORDER BY deg.tok
    """,
    tags=("J8", "graph"),
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the >=20%-support
    token co-occurrence graph: C(v) = 2*T(v) / (d(v)*(d(v)-1)) — how
    close each token's neighborhood is to a clique, the
    community-tightness signal on top of q_triangle_count's raw
    participation counts (same graph, same enumeration).

    Triangle counts come from the degree-ordered compact-forward
    enumeration q_triangle_count already runs (called directly — one
    definition, zero drift); degrees from the symmetrized edge list.
    Nodes in no triangle still appear (coefficient 0 via left join);
    degree-1 nodes are excluded (undefined denominator). The 6-dp
    coefficient is rounded by INTEGER half-up carry in micro-units —
    d(d-1) denominators are routinely 2^a*5^b (d=5 -> 20), exactly
    the terminating-decimal halfway class where the engines' double
    round() implementations disagree (the q_wasserstein_drift
    lesson), so no double forms until one final /1e6.

    Scale shape: everything is the triangle query's plan plus one
    vocab-bounded degree aggregate and a vocab-keyed left join.
    """
    tri = q_triangle_count(spark, sf_dir).withColumnRenamed(
        "n_triangles", "nt"
    )
    e = _support_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("tok"))
        .unionByName(e.select(F.col("v").alias("tok")))
        .groupBy("tok")
        .agg(F.count("*").alias("d"))
    )
    return (
        deg.where(F.col("d") >= 2)
        .join(tri, "tok", "left")
        .select(
            "tok",
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("nt"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            (
                F.expr(
                    "(2 * (2 * coalesce(nt, 0) * 1000000) + d * (d - 1))"
                    " div (2 * d * (d - 1))"
                ).cast("double")
                / 1000000.0
            ).alias("coeff"),
        )
        .orderBy("tok")
    )
