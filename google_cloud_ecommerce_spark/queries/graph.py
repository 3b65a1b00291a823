"""Graph analytics over the event stream: PageRank on the category
transition graph and triangle counting on the co-view graph.

The reference's funnel charts (README.md:78-80) treat consecutive
per-user events as edges; these operators generalize that to a graph
the engine can iterate on. Both are expressed as DataFrame programs —
edges are built once with one window pass, then each PageRank round is
a broadcast join + one hash aggregate (the rank vector is tiny; the
edge list never re-shuffles for the rank side).

Determinism across engines for an ITERATIVE float algorithm is the hard
part (same issue as `operators/similarity.py` k-means): we sidestep
floats entirely by running PageRank in scaled-integer arithmetic
(rank * 10^12 as BIGINT, floor division for the damping and the
out-degree split). Every intermediate is exact, so Spark and DuckDB
agree bit-for-bit regardless of partitioning or summation order; the
single float appears in the final projection.

Scale posture (100 TB): the transition-edge build is one window over
(user, ts) — the same shuffle the sessionizer already pays — followed
by a hash aggregate onto the (src, dst) key whose domain is bounded by
the category-bucket vocabulary, not the event count. PageRank then
iterates on the AGGREGATED edge list (|buckets|^2 rows at most), with
the rank vector broadcast — no per-event work inside the loop. The
co-view pair build for triangles is bounded the same way: per-user
distinct buckets ≤ the bucket vocabulary, so the per-user pair fan-out
is a constant, never n^2 in events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from google_cloud_ecommerce_spark.catalog import load_table
from google_cloud_ecommerce_spark.pins import pin

N_BUCKETS = 10  # category vocabulary: k % 10, as in conversion_rate
PR_SCALE = 10**12  # fixed-point scale for integer PageRank
PR_ITERS = 3
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio
COVIEW_MIN_USERS = 3  # co-view edge support threshold


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _bucket_col() -> F.Column:
    return (
        F.get_json_object(F.col("props"), "$.k").cast("long") % N_BUCKETS
    ).alias("bucket")


def _transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted directed edges: consecutive per-user category-bucket
    transitions (self-loops dropped), aggregated to (src, dst, w)."""
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", "ts", "event_id", _bucket_col())
        .filter(F.col("bucket").isNotNull())
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("src", F.lag("bucket").over(w))
        .filter(F.col("src").isNotNull() & (F.col("src") != F.col("bucket")))
        .groupBy("src", F.col("bucket").alias("dst"))
        .agg(F.count("*").alias("w"))
    )


# lambda-lint: r0 (one integer division) is recomputed for each of <= 10
# nodes of the single graph row; binding it once measured 0.72 vs 0.72 s
# (sf0.1 on 4 vCPUs, min of 5)
def pagerank_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round weighted PageRank over the category transition graph.

    Integer fixed-point arithmetic (see module docstring): per-edge
    contribution = (rank_src * w) DIV out_w_src, damping applied as
    (85 * in_mass) DIV 100 + (15 * SCALE) DIV (100 * N). Dangling-node
    mass is dropped (documented; identical in the oracle).
    """
    # r12 rewrite (guide §2.4): the aggregated edge list is bounded by the
    # QUERY, not the corpus — buckets = k % N_BUCKETS gives <= 10 nodes
    # and <= 90 aggregated edges at ANY scale. The old shape ran each
    # damping round as broadcast-join + hash-aggregate + left-join over
    # those <= 90 rows (~12 exchanges + 9 broadcasts for 3 rounds, pure
    # scheduling overhead); this shape collects the edge list into ONE
    # row and runs every round as exact integer map/array arithmetic —
    # one single-partition aggregate, zero joins. Interleaved A/B at
    # sf0.1: min 1.54 -> 1.39 s, rows bit-identical (all-integer
    # fixed-point, order-independent sums). The corpus-scale work (the
    # per-user transition window + (src,dst) aggregate) is untouched.
    one = _transition_edges(spark, sf_dir).agg(
        F.collect_list(F.struct("src", "dst", "w")).alias("es")
    )
    one = (
        one.withColumn(
            "nodes",
            F.expr(
                "array_sort(array_distinct(concat("
                "transform(es, e -> e.src), transform(es, e -> e.dst))))"
            ),
        )
        .withColumn("n", F.expr("size(nodes)"))
        .withColumn(
            "tp",
            F.expr(
                f"IF(n = 0, 0L, (({PR_DAMP_DEN - PR_DAMP_NUM})"
                f" * CAST({PR_SCALE} AS BIGINT))"
                f" DIV ({PR_DAMP_DEN} * CAST(n AS BIGINT)))"
            ),
        )
        .withColumn(
            "r0",
            F.expr(
                f"IF(n = 0, 0L, CAST({PR_SCALE} AS BIGINT) DIV CAST(n AS BIGINT))"
            ),
        )
        .withColumn(
            "ow",
            F.expr(
                "map_from_entries(transform(nodes, nd -> struct(nd, "
                "aggregate(filter(es, e -> e.src = nd), 0L, (a, e) -> a + e.w))))"
            ),
        )
        .withColumn(
            "rm0", F.expr("map_from_entries(transform(nodes, nd -> struct(nd, r0)))")
        )
    )
    # Each round: in_mass(nd) = sum over incoming edges of
    # (rank[src] * w) DIV out_w[src]; rank'(nd) = tp + (85*in_mass) DIV
    # 100 — the same per-edge integer division and order-independent
    # integer sum as the joined form, so the result is bit-identical.
    for i in range(1, PR_ITERS + 1):
        one = one.withColumn(
            f"rm{i}",
            F.expr(
                "map_from_entries(transform(nodes, nd -> struct(nd, "
                f"tp + ({PR_DAMP_NUM} * aggregate(filter(es, e -> e.dst = nd), 0L, "
                f"(a, e) -> a + (element_at(rm{i - 1}, e.src) * e.w)"
                f" DIV element_at(ow, e.src))) DIV {PR_DAMP_DEN})))"
            ),
        )
    return one.select(
        F.explode("nodes").alias("node"), F.col(f"rm{PR_ITERS}").alias("rm")
    ).select(
        F.col("node").alias("bucket"),
        F.round(
            F.expr("element_at(rm, node)") / F.lit(float(PR_SCALE)), 6
        ).alias("pagerank"),
        F.expr("element_at(rm, node)").alias("rank_scaled"),
    )


def _edges_sql() -> str:
    return f"""
        ev AS (
            SELECT user_id, ts, event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT)
                       % {N_BUCKETS} AS bucket
            FROM events WHERE event_type = 'view'
        ), seq AS (
            SELECT bucket,
                   lag(bucket) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS src
            FROM ev WHERE bucket IS NOT NULL
        ), edges AS (
            SELECT src, bucket AS dst, count(*) AS w
            FROM seq WHERE src IS NOT NULL AND src <> bucket
            GROUP BY 1, 2
        )"""


def _pagerank_sql() -> str:
    damp = f"{PR_DAMP_NUM}"
    den = f"{PR_DAMP_DEN}"

    def rnd(prev: str, n: int) -> str:
        return f"""c{n} AS (
            SELECT e.dst, SUM((r.rank * e.w) // e.out_w) AS in_mass
            FROM we e JOIN {prev} r ON r.node = e.src
            GROUP BY 1
        ), r{n} AS (
            SELECT n.node,
                   (SELECT tp FROM consts)
                   + ({damp} * COALESCE(c.in_mass, 0)) // {den} AS rank
            FROM nodes n LEFT JOIN c{n} c ON c.dst = n.node
        )"""

    return f"""
        WITH {_edges_sql()}, nodes AS (
            SELECT src AS node FROM edges
            UNION SELECT dst FROM edges
        ), consts AS (
            SELECT count(*) AS n,
                   (({den} - {damp}) * {PR_SCALE}::BIGINT)
                       // ({den} * count(*)) AS tp,
                   {PR_SCALE}::BIGINT // count(*) AS r0
            FROM nodes
        ), we AS (
            SELECT e.src, e.dst, e.w, o.out_w
            FROM edges e
            JOIN (SELECT src, SUM(w) AS out_w FROM edges GROUP BY 1) o
              ON o.src = e.src
        ), r0 AS (
            SELECT node, (SELECT r0 FROM consts) AS rank FROM nodes
        ), {rnd('r0', 1)}, {rnd('r1', 2)}, {rnd('r2', 3)}
        SELECT node AS bucket,
               ROUND(rank / {float(PR_SCALE)}, 6) AS pagerank,
               CAST(rank AS BIGINT) AS rank_scaled
        FROM r3
    """


def triangle_coview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the co-view graph.

    Undirected edge (a, b), a < b, when >= COVIEW_MIN_USERS distinct
    users viewed both buckets. Triangles are enumerated a < b < c via
    two joins on the aggregated edge list (bounded by the bucket
    vocabulary — the joins run on at most C(N_BUCKETS, 2) rows, never
    on event-scale data). Per-node count = triangles touching the node.
    """
    ub = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", _bucket_col())
        .filter(F.col("bucket").isNotNull())
        .distinct()
    )
    pairs = pin(
        ub.alias("x")
        .join(ub.alias("y"), F.col("x.user_id") == F.col("y.user_id"))
        .filter(F.col("x.bucket") < F.col("y.bucket"))
        .groupBy(
            F.col("x.bucket").alias("a"), F.col("y.bucket").alias("b")
        )
        .agg(F.count("*").alias("n_users"))
        .filter(F.col("n_users") >= COVIEW_MIN_USERS)
        .select("a", "b")
        # the edge list joins itself 3x and the triangle table feeds a
        # 3-branch union: unpinned, the events scan + user self-join
        # re-planned per reference (18 events scans, round-6 audit).
        # Both tables are vocabulary-bounded — pin them.
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tris = pin(
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    per_node = (
        tris.select(F.col("a").alias("node"))
        .union(tris.select(F.col("b").alias("node")))
        .union(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_node.orderBy("node")


def _triangle_sql() -> str:
    return f"""
        WITH ub AS (
            SELECT DISTINCT user_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT)
                       % {N_BUCKETS} AS bucket
            FROM events
            WHERE event_type = 'view'
              AND json_extract_string(props, '$.k') IS NOT NULL
        ), pairs AS (
            SELECT x.bucket AS a, y.bucket AS b
            FROM ub x JOIN ub y ON x.user_id = y.user_id
            WHERE x.bucket < y.bucket
            GROUP BY 1, 2
            HAVING count(*) >= {COVIEW_MIN_USERS}
        ), tris AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM pairs e1
            JOIN pairs e2 ON e2.a = e1.b
            JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
        ), nodes AS (
            SELECT a AS node FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris
        )
        SELECT node, count(*) AS n_triangles
        FROM nodes GROUP BY 1 ORDER BY 1
    """


QUERIES = {
    "pagerank_categories": pagerank_categories,
    "triangle_coview": triangle_coview,
}

ORACLE = {
    "pagerank_categories": _pagerank_sql(),
    "triangle_coview": _triangle_sql(),
}


# ---------------------------------------------------------------------------
# event_path_mining — top-k most-travelled 3-step event-type paths
# (sequence mining over the per-user event stream, the 3-gram
# generalization of the funnel's 2-step transitions). One window pass
# builds (lag2, lag1, current) per user; the path vocabulary is at most
# |event_types|^3, so the aggregate output is constant-sized and the
# top-k is a TakeOrderedAndProject (per-partition heap, no global
# sort). Ties break on the path string so the LIMIT is deterministic.
# ---------------------------------------------------------------------------

PATH_TOP_K = 20


def event_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.withColumn("p1", F.lag("event_type", 1).over(w))
        .withColumn("p2", F.lag("event_type", 2).over(w))
        .filter(F.col("p2").isNotNull())
        .select(
            F.concat_ws(">", "p2", "p1", "event_type").alias("path"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_walks"))
        .orderBy(F.desc("n_walks"), F.asc("path"))
        .limit(PATH_TOP_K)
    )


EVENT_PATH_MINING_SQL = f"""
    WITH seq AS (
        SELECT event_type,
               lag(event_type, 1) OVER w AS p1,
               lag(event_type, 2) OVER w AS p2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT p2 || '>' || p1 || '>' || event_type AS path,
           count(*) AS n_walks
    FROM seq WHERE p2 IS NOT NULL
    GROUP BY 1
    ORDER BY n_walks DESC, path ASC
    LIMIT {PATH_TOP_K}
"""


QUERIES["event_path_mining"] = event_path_mining
ORACLE["event_path_mining"] = EVENT_PATH_MINING_SQL
