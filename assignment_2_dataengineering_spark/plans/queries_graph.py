"""Graph queries (operators.graph): iterative link analysis expressed
as Pregel-style DataFrame supersteps. Engine-added — the reference has
no graph surface; a training-data platform needs link analysis for
source-authority weighting and crawl prioritization.

The oracle for the fixed-iteration scaled-integer PageRank is GENERATED
(operators.graph.pagerank_oracle_sql unrolls the supersteps into plain
CTEs), so the SQL is provably the same arithmetic the Spark plan runs —
DIV for DIV — and the comparison is hash-exact, not approximate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.graph import pagerank, pagerank_oracle_sql
from ..operators.materialize import materialize
from ..operators.scale_policy import RULES, choose, override, plan_bytes
from ..sources.tables import load_table
from .registry import register

# Interaction graph: within each event_type's global timeline, an edge
# connects the acting user to the next acting user (distinct pairs,
# self-loops dropped) — "who acts after whom" influence structure.
_EDGES_CTE = """edges AS (
    SELECT DISTINCT user_id AS src, next_user AS dst
    FROM (
        SELECT user_id,
               lead(user_id) OVER (PARTITION BY event_type
                                   ORDER BY ts, event_id) AS next_user
        FROM events
    )
    WHERE next_user IS NOT NULL AND next_user <> user_id
)"""


def _user_edges(
    spark: SparkSession, sf_dir: str, bucket: str | None = None
) -> DataFrame:
    """Follow-on edges via a TWO-PHASE global lead. The naive form —
    lead() over (PARTITION BY event_type ORDER BY ts, event_id) — has
    only |event_type| ≈ 5 window partitions, so at sf100 four tasks
    each sorted ~25 M rows (with spill): 134 of q_pagerank's 159 s were
    THIS derivation, not the supersteps, and every graph query paid it.
    Phase 1 computes the lead inside (event_type, bucket-of-ts) buckets
    — thousands of small, parallel, skew-free sorts; phase 2 stitches
    bucket boundaries: the per-bucket FIRST rows form a tiny table
    (|types| × |buckets|), and lead() over it (ordered by bucket) gives
    each bucket's last row its successor — the first row of the next
    non-empty bucket — via a broadcast join. date_trunc(bucket, ts) is
    a monotone prefix of the (ts, event_id) order and event_id is
    unique, so the stitched result is VALUE-IDENTICAL to the global
    lead (the DuckDB oracle still computes the naive form; hash-exact).

    `bucket` is the granularity dial for event rate, SCALE-AWARE by
    default (round-10): when neither the argument nor
    SPARK_GRAFT_GRAPH_BUCKET is set, the "graph_bucket" rule
    (operators/scale_policy.py) reads the optimizer's sizeInBytes
    estimate of the 4-column events projection (no job) and picks
    "hour" below 9_600_000_000 plan-stat bytes (~9_600 MB, ≈7.6e8
    events — the measured winner at sf10 AND sf100, calibration next to
    the rule and in SCALE.md §6m) and "minute" above, where per-hour-
    bucket sorts would cross the ~211k-row load at which the
    coarse-bucket sort degraded measurably. The argument and the env
    var accept only the measured grains (minute, hour, day): date_trunc
    maps any other unit to NULL, which would put each event type in one
    bucket and silently run the 5-partition global sort this function
    exists to avoid. Granularity changes the plan only — the stitched result is
    value-identical at any grain (next paragraph) — so the selector can
    never change a query's answer.

    Boundary rows are flagged EXPLICITLY (lead(1) is null only on the
    true last row of a bucket) rather than via coalesce(__nxt,
    __nxt_b_user): coalesce conflated "last row of bucket" with "next
    row has NULL user_id" — on a corpus with null user_id the naive
    global lead yields a null dst (edge dropped) where coalesce would
    substitute the next bucket's first user (spurious edge)."""
    if bucket is None:
        bucket = override("graph_bucket")
    else:
        try:
            RULES["graph_bucket"].parse(bucket)
        except ValueError:
            raise ValueError(f"bucket must be one of minute, hour, day; got {bucket!r}") from None
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "user_id"
    )
    if bucket is None:
        bucket = choose("graph_bucket", plan_bytes(ev))
    bucketed = ev.withColumn("__b", F.date_trunc(bucket, F.col("ts")))
    w_b = Window.partitionBy("event_type", "__b").orderBy("ts", "event_id")
    led = bucketed.withColumn("__nxt", F.lead("user_id").over(w_b)).withColumn(
        "__last", F.lead(F.lit(1)).over(w_b).isNull()
    )
    firsts = bucketed.groupBy("event_type", "__b").agg(
        F.min(F.struct("ts", "event_id", "user_id")).alias("__f")
    )
    w_t = Window.partitionBy("event_type").orderBy("__b")
    nxt_first = firsts.select(
        "event_type",
        "__b",
        F.lead(F.col("__f")["user_id"]).over(w_t).alias("__nxt_b_user"),
    )
    return (
        led.join(F.broadcast(nxt_first), ["event_type", "__b"], "left")
        .select(
            F.col("user_id").alias("src"),
            F.when(F.col("__last"), F.col("__nxt_b_user"))
            .otherwise(F.col("__nxt"))
            .alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .distinct()
    )


@register(
    "q_pagerank",
    oracle=pagerank_oracle_sql(_EDGES_CTE, iterations=5),
    tags=("graph", "iterative"),
    bench=True,  # the iterative superstep path in the headline set
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-superstep PageRank over the user follow-on interaction
    graph. Scaled-integer ranks (parts-per-10^12 longs) make the
    iterative result bit-identical across engines and partitionings —
    the oracle is the same superstep arithmetic unrolled to SQL. Each
    superstep is one edges⋈ranks shuffle + one inflow aggregate;
    dangling mass and |V| ride 1-row broadcast cross-joins, so nothing
    routes through the driver at any scale.

    Checkpoint cadence is SCALE-AWARE by default (round-9): the
    operator picks the measured sf-tier winner from the distinct edge
    count (the "pagerank_cadence" rule in operators/scale_policy.py —
    k=1 below 630_000 edges, k=2 at or above, so sf10's 2.5e5-edge
    graph gets k=1 and sf100's 1.6e6 gets k=2; crossover in SCALE.md
    §6l).
    SPARK_GRAFT_PR_CHECKPOINT_EVERY overrides with an explicit positive
    integer cadence ("auto" or unset = the selector); anything else
    fails loudly here rather than silently running the wrong plan
    (round-8 ADVICE)."""
    k = override("pagerank_cadence")
    return pagerank(_user_edges(spark, sf_dir), iterations=5, checkpoint_every=k)


from ..operators.graph import label_propagation, label_propagation_oracle_sql  # noqa: E402


@register(
    "q_communities",
    oracle=label_propagation_oracle_sql(_EDGES_CTE, iterations=4),
    tags=("graph", "iterative"),
)
def q_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-round synchronous label-propagation communities over the
    user interaction graph — the community-detection sibling of
    q_pagerank (centrality) and dedup_clusters (connectivity). Made
    deterministic by the (count DESC, label ASC) adoption rule, so the
    unrolled-SQL oracle reproduces every round exactly; same keyed
    superstep shuffles, same eager per-round checkpoint."""
    return label_propagation(_user_edges(spark, sf_dir), iterations=4)


from ..operators.graph import bfs_hops, bfs_hops_oracle_sql  # noqa: E402


@register(
    "q_bfs_reach",
    oracle=bfs_hops_oracle_sql(
        _EDGES_CTE, "SELECT 0 AS node", max_hops=3
    ),
    tags=("graph", "iterative"),
)
def q_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-hop breadth-first reachability from user 0 over the
    interaction graph: (node, min-hop distance). The traversal third
    of the graph family (centrality / communities / reachability);
    frontier-minus-visited per round, unrolled-SQL oracle."""
    seeds = spark.range(1).select(F.lit(0).cast("long").alias("node"))
    return bfs_hops(_user_edges(spark, sf_dir), seeds, max_hops=3).select(
        "node", F.col("hops").cast("int").alias("hops")
    )


@register(
    "q_degree_stats",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT user_id AS src, next_user AS dst
        FROM (
            SELECT user_id,
                   lead(user_id) OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id) AS next_user
            FROM events
        )
        WHERE next_user IS NOT NULL AND next_user <> user_id
    ),
    deg AS (SELECT src AS node, count(*) AS out_degree FROM edges GROUP BY 1)
    SELECT CAST(out_degree AS BIGINT) AS out_degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY 1
    """,
    tags=("graph", "stats"),
)
def q_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree distribution of the interaction graph — the shape
    diagnostic read BEFORE running iterative algorithms on it (a
    power-law tail says salt the supersteps; a bounded degree says
    don't bother). Two keyed aggregates, histogram-sized output."""
    deg = (
        _user_edges(spark, sf_dir)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("out_degree"))
    )
    return deg.groupBy("out_degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "q_triangle_count",
    bench=True,  # the hub-safe 3-way self-join path
    oracle=f"""
    WITH {_EDGES_CTE},
    ud AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT a AS node FROM ud UNION ALL SELECT b FROM ud
        ) GROUP BY node
    ),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM ud e1
        JOIN ud e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN ud e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    wed AS (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg)
    SELECT tri.n_triangles, wed.n_wedges,
           round(3.0 * tri.n_triangles / nullif(wed.n_wedges, 0), 6)
               AS global_clustering
    FROM tri, wed
    """,
    tags=("graph", "agg"),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the undirected
    interaction graph — the cohesion statistic next to q_degree_stats'
    volume ones. The Spark side uses DEGREE-ORDERED ORIENTATION (each
    undirected edge points from its lower-(degree, id) endpoint to the
    higher): every triangle is counted exactly once, and wedge
    enumeration is bounded by out-degree² where out-degree ≤ O(√E) —
    the standard bound that keeps hub nodes from exploding the join at
    100 TB (a naive a<b canonical join enumerates C(deg_hub, 2) pairs).
    The wedge DENOMINATOR never enumerates at all: Σ d(d−1)/2 from the
    degree table. The oracle brute-forces the canonical a<b<c 3-way
    join — orientation changes the enumeration order, not the count,
    so the comparison is hash-exact.

    The undirected edge table and the oriented edge table are EAGERLY
    localCheckpointed (round-10, guide §2.4/§3.3): `ud` fans out to the
    degree aggregate and the orientation join, and `o` feeds all three
    self-join branches — left inlined, the whole _user_edges derivation
    (events scan + two window passes + distinct) was planned ~34 times
    (206 Exchange / 68 scan nodes in the before plan, `git show
    142017c:plans/r10/q_triangle_count_before.txt`), and
    exchange reuse cannot fire across the alias-renamed branches. Two
    |E|-row materializations replace that: the after plan's triangle
    join reads two checkpointed RDD scans (3.55 → 2.26 s at sf0.1;
    same pattern as pagerank's per-superstep checkpoint, and
    executor-loss tolerance is the documented price)."""
    ud = materialize(
        _user_edges(spark, sf_dir)
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        ud.select(F.col("a").alias("node"))
        .unionByName(ud.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, node): acyclic total order => each triangle
    # has exactly one source node with both out-edges
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    withd = ud.join(da, "a").join(db, "b")
    o = materialize(
        withd.select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        ).select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
    )
    e1 = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = o.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = o.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    wed = deg.agg(
        F.sum(F.expr("(d * (d - 1)) DIV 2")).cast("long").alias("n_wedges")
    )
    return tri.crossJoin(F.broadcast(wed)).select(
        "n_triangles",
        "n_wedges",
        F.round(
            3.0 * F.col("n_triangles") / F.nullif(F.col("n_wedges"), F.lit(0)), 6
        ).alias("global_clustering"),
    )
