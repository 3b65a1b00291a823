"""Semantic checks for the graph operators (PageRank, triangles)."""

from __future__ import annotations

from google_cloud_ecommerce_spark.queries import graph


def test_pagerank_mass_and_determinism(spark, sf_smoke):
    rows = graph.pagerank_categories(spark, sf_smoke).collect()
    assert rows
    n = len(rows)
    total = sum(r.rank_scaled for r in rows)
    # teleport floor: every node holds at least the (15% / N) share
    teleport = ((graph.PR_DAMP_DEN - graph.PR_DAMP_NUM) * graph.PR_SCALE) // (
        graph.PR_DAMP_DEN * n
    )
    assert all(r.rank_scaled >= teleport for r in rows)
    # total mass never exceeds SCALE (dangling/rounding mass only leaks
    # DOWN in the integer formulation, never up)
    assert total <= graph.PR_SCALE
    # integer arithmetic => a second run is bit-identical
    again = graph.pagerank_categories(spark, sf_smoke).collect()
    assert sorted((r.bucket, r.rank_scaled) for r in rows) == sorted(
        (r.bucket, r.rank_scaled) for r in again
    )


def test_pagerank_prefers_heavy_sink(spark, sf_smoke):
    """A bucket that receives more transition weight than it emits must
    outrank the uniform-start value; ranks must not be all equal."""
    rows = graph.pagerank_categories(spark, sf_smoke).collect()
    ranks = [r.rank_scaled for r in rows]
    assert len(set(ranks)) > 1 or len(ranks) == 1


def test_triangle_counts_consistent(spark, sf_smoke):
    rows = graph.triangle_coview(spark, sf_smoke).collect()
    # per-node triangle memberships sum to 3 * (#distinct triangles)
    total = sum(r.n_triangles for r in rows)
    assert total % 3 == 0
    assert all(r.n_triangles > 0 for r in rows)


def test_pagerank_no_per_event_work_in_loop(spark, sf_smoke):
    """The iteration must run on the aggregated edge list: since the
    r12 single-row rewrite the damping rounds are pure map/array
    arithmetic over one collected row — no join of ANY strategy (and a
    fortiori no cartesian product) may appear in the plan."""
    df = graph.pagerank_categories(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
