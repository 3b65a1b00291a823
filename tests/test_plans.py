"""Physical-plan audits: the 100 TB posture, asserted mechanically.

A query that is correct at sf0.01 but plans a cartesian product, drops
a broadcast, or scans every column is wrong at scale — these tests pin
the plan properties the docstrings promise, so a regression shows up as
a test failure rather than a 100× slowdown on a cluster.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from google_cloud_ecommerce_spark.queries import joins, reference, relational
from google_cloud_ecommerce_spark.operators import similarity


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_dim_joins_are_broadcast(spark, sf_smoke):
    """region/nation/customer dim lookups must never shuffle the fact side."""
    for q in (relational.nation_revenue, relational.shipping_priority,
              relational.top_customers_per_segment):
        plan = plan_of(q(spark, sf_smoke))
        assert "BroadcastHashJoin" in plan, f"{q.__name__} lost its broadcast:\n{plan}"


def test_q1_filter_pushed_to_parquet_scan(spark, sf_smoke):
    plan = plan_of(relational.tpch_q1_pricing_summary(spark, sf_smoke))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]


def test_q1_scan_prunes_columns(spark, sf_smoke):
    """8 aggregates need 7 lineitem columns — the scan must not read the rest."""
    plan = plan_of(relational.tpch_q1_pricing_summary(spark, sf_smoke))
    read_schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_event_type_filter_pushed(spark, sf_smoke):
    plan = plan_of(reference.top_categories(spark, sf_smoke))
    pushed = plan.split("PushedFilters", 1)[1][:250] if "PushedFilters" in plan else ""
    assert "event_type" in pushed, f"event_type filter not pushed:\n{plan}"


def test_asof_join_is_one_shuffle_no_join(spark, sf_smoke):
    """The union+window as-of must not plan any join operator at all —
    one hash partitioning on user_id, then the ordered window."""
    plan = plan_of(joins.asof_purchase_view(spark, sf_smoke))
    assert "Join" not in plan
    # formatted explain names each node twice (tree + detail section)
    assert plan.count("Exchange (") == 1 and "hashpartitioning(user_id" in plan


def test_band_join_is_broadcast_nested_loop(spark, sf_smoke):
    plan = plan_of(joins.value_band_stats(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan


def test_similarity_broadcasts_query_side(spark, sf_smoke):
    plan = plan_of(similarity.similarity_topk(spark, sf_smoke))
    assert "Broadcast" in plan  # corpus streams map-side; queries are the build side


def _batch_query_names():
    """Every queries() entry that is a pure plan build — streaming jobs
    are excluded (they materialize before returning)."""
    from google_cloud_ecommerce_spark.queries import all_queries

    return [n for n in sorted(all_queries()) if not n.startswith("streaming_")]


# Expressions that read a column without computing anything.
_COLUMN_READS = {"AttributeReference", "BoundReference", "OuterReference"}


def _lambda_body_hits(df) -> list[str]:
    """Outer computation inside lambda bodies of the optimized plan.

    A lambda body runs once per array element. A subtree of the body
    that reads no lambda variable, is not foldable, is not a plain
    column read and has at least 3 nodes computes the same value for
    every element: it is evaluated once per element instead of once per
    row. Catalyst puts such subtrees there when it inlines a column
    (say a token array) into the lambda that reads it. Returns the
    largest such subtrees."""

    def children(node) -> list:
        kids = node.children()
        return [kids.apply(i) for i in range(kids.size())]

    def scan(e, in_body: bool):
        """-> (nodes, reads a lambda variable, hits) of subtree e."""
        kind = e.getClass().getSimpleName()
        if kind == "LambdaFunction":
            n, _, hits = scan(e.function(), True)
            return n + e.arguments().size() + 1, True, hits
        n, reads_var, hits = 1, kind == "NamedLambdaVariable", []
        for c in children(e):
            cn, cv, ch = scan(c, in_body)
            n, reads_var, hits = n + cn, reads_var or cv, hits + ch
        if (
            in_body
            and not reads_var
            and n >= 3
            and kind not in _COLUMN_READS
            and not e.foldable()
        ):
            return n, False, [e.toString()[:120]]
        return n, reads_var, hits

    out: list[str] = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        stack.extend(children(node))
        subs = node.subqueries()
        stack.extend(subs.apply(i) for i in range(subs.size()))
        exprs = node.expressions()
        for i in range(exprs.size()):
            e = exprs.apply(i)
            if "lambdafunction" in e.toString():
                out += scan(e, False)[2]
    return out


@pytest.fixture(scope="module")
def registry_plan(spark, sf_smoke):
    """qname -> (formatted plan, lambda-body hits) of a batch registry
    entry, built once per name and shared by the registry-wide lints."""
    from google_cloud_ecommerce_spark.queries import all_queries

    plans: dict[str, tuple[str, list[str]]] = {}

    def get(qname: str) -> tuple[str, list[str]]:
        if qname not in plans:
            df = all_queries()[qname](spark, sf_smoke)
            plans[qname] = (plan_of(df), _lambda_body_hits(df))
        return plans[qname]

    return get


@pytest.mark.parametrize("qname", _batch_query_names())
def test_no_cartesian_product_anywhere(registry_plan, qname):
    plan, _ = registry_plan(qname)
    assert "CartesianProduct" not in plan, f"{qname} plans a cartesian product"


@pytest.mark.parametrize("qname", _batch_query_names())
def test_no_outer_computation_in_lambda_bodies(registry_plan, qname):
    """Registry-wide lint: no lambda body recomputes, once per array
    element, a value that does not depend on the element (see
    _lambda_body_hits). The fix is to read only lambda variables in the
    body: bind the value once with _common.let_expr, or build n-grams
    with _common.ngrams_expr. A hit left in place must carry a
    ``lambda-lint:`` tag on its query function with its measured cost."""
    from google_cloud_ecommerce_spark.queries import all_queries
    from tests.tools.scan_audit import has_audit_tag

    _, hits = registry_plan(qname)
    if hits and not has_audit_tag(all_queries()[qname], "lambda-lint:"):
        pytest.fail(f"{qname} evaluates outer work per lambda element: {hits}")


def test_streaming_corpus_gates_read_only_lambda_variables(spark, sf_smoke):
    """The per-row gate columns that streaming_corpus_prep applies to
    each micro-batch pass the same lint over a batch frame."""
    from google_cloud_ecommerce_spark.catalog import load_table
    from google_cloud_ecommerce_spark.operators.pipeline import quality_gated

    gated = quality_gated(load_table(spark, sf_smoke, "documents"))
    assert not _lambda_body_hits(gated)


def _split_top_level_args(s: str) -> list[str]:
    args: list[str] = []
    depth, cur = 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                break
            depth -= 1
        if ch == "," and depth == 0:
            args.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    args.append("".join(cur))
    return args


def _unpartitioned_window_specs(plan: str) -> list[str]:
    """windowspecdefinition args list partition keys first, then order
    keys (which carry ' ASC NULLS '/' DESC NULLS ' markers): a spec
    whose FIRST argument is an order key has an empty partition spec —
    Spark executes it as one task sorting the whole input."""
    import re

    out = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        args = _split_top_level_args(plan[m.end() :])
        if args and re.search(r"\b(ASC|DESC) NULLS", args[0]):
            out.append(args[0].strip()[:80])
    return out


@pytest.mark.parametrize("qname", _batch_query_names())
def test_no_unpartitioned_window_anywhere(registry_plan, qname):
    """Registry-wide lint (round 4): ZERO single-partition WindowExec.
    An unpartitioned window sorts its whole input in one task — the
    plan shape that caps an operator at single-executor memory at
    100 TB. Global ntile/rank use the range-partition +
    broadcast-prefix-offset construction (operators/ranking.py);
    running totals over tiny rollups use triangular broadcast joins."""
    plan, _ = registry_plan(qname)
    specs = _unpartitioned_window_specs(plan)
    assert not specs, f"{qname} plans unpartitioned window(s) ordered by: {specs}"


def test_late_shipment_is_semi_join(spark, sf_smoke):
    """The EXISTS must decorrelate to a semi join (no row explosion)."""
    from google_cloud_ecommerce_spark.queries import tpch_extra

    plan = plan_of(tpch_extra.late_shipment_priority(spark, sf_smoke))
    assert "LeftSemi" in plan, f"EXISTS did not plan a semi join:\n{plan}"


def test_idle_rich_scalar_is_broadcast_and_anti(spark, sf_smoke):
    """Global-scalar filter: 1-row broadcast, NOT EXISTS: left anti."""
    from google_cloud_ecommerce_spark.queries import tpch_extra

    plan = plan_of(tpch_extra.idle_rich_customers(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan and "LeftAnti" in plan


def test_disjunctive_band_is_hash_join(spark, sf_smoke):
    """Q19's OR-of-ANDs must keep the equi-key hash join (the
    disjunction rides as a post-join filter), never a nested loop over
    the full cross space."""
    from google_cloud_ecommerce_spark.queries import tpch_extra

    plan = plan_of(tpch_extra.disjunctive_band_revenue(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_moving_avg_window_is_partitioned(spark, sf_smoke):
    """The sliding frame must partition on the segment key — a global
    trend window would serialize on one task at scale."""
    from google_cloud_ecommerce_spark.queries import relational

    plan = plan_of(relational.segment_daily_moving_avg(spark, sf_smoke))
    assert "hashpartitioning(c_mktsegment" in plan


def test_lonely_late_is_semi_then_anti(spark, sf_smoke):
    """Q21's EXISTS + NOT EXISTS must plan one semi and one anti
    self-join on the orders-sized distinct-pair sets."""
    from google_cloud_ecommerce_spark.queries import tpch_extra2

    plan = plan_of(tpch_extra2.lonely_late_suppliers(spark, sf_smoke))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_important_parts_scalar_is_one_row_broadcast(spark, sf_smoke):
    """Q11's global fraction must join as a 1-row broadcast onto the
    per-part aggregate, never re-scan or cross-join the fact."""
    from google_cloud_ecommerce_spark.queries import tpch_extra2

    plan = plan_of(tpch_extra2.important_parts_value(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_min_cost_window_partitions_on_part(spark, sf_smoke):
    """Q2's min-over-part window must partition on the part key — and
    run AFTER the pair aggregate (dim-sized input), not over lineitem."""
    from google_cloud_ecommerce_spark.queries import tpch_extra2

    plan = plan_of(tpch_extra2.min_cost_part_suppliers(spark, sf_smoke))
    assert "Window" in plan
    assert "hashpartitioning(p_partkey" in plan


def test_changelog_compaction_is_aggregate_not_window(spark, sf_smoke):
    """The CDC snapshot must plan as a partial-aggregatable struct-max
    (map-side combine, one shuffle), never a per-key window sort."""
    from google_cloud_ecommerce_spark.queries import cdc

    plan = plan_of(cdc.changelog_compaction(spark, sf_smoke))
    assert "Window" not in plan
    assert "partial_max" in plan, plan


def test_rolling_wau_broadcasts_day_grid(spark, sf_smoke):
    """The non-equi day-grid join must broadcast the O(days) side; a
    shuffled nested-loop here would move the pair set per grid row."""
    from google_cloud_ecommerce_spark.queries import scale

    plan = plan_of(scale.rolling_weekly_active_users(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_trailing_week_window_partitions_on_priority(spark, sf_smoke):
    """The RANGE-frame window must stay partitioned per priority —
    a global window would single-thread the whole table."""
    from google_cloud_ecommerce_spark.queries import stats

    df = stats.priority_trailing_week_revenue(spark, sf_smoke)
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(o_orderpriority" in simple, simple


def test_cached_intermediate_reused_across_consumers(spark, sf_smoke):
    """A deliberately persisted intermediate must serve both consumers
    from InMemoryTableScan — the manual materialization pattern for a
    DAG that fans out (compute once, read twice)."""
    from google_cloud_ecommerce_spark.catalog import load_table
    from pyspark.sql import functions as F

    daily = (
        load_table(spark, sf_smoke, "events")
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n"))
        .cache()
    )
    try:
        daily.count()  # materialize
        top = daily.orderBy(F.desc("n")).limit(5)
        weekly = daily.groupBy(F.date_trunc("week", "day")).agg(F.sum("n"))
        for consumer in (top, weekly):
            assert "InMemoryTableScan" in plan_of(consumer)
    finally:
        daily.unpersist()


def test_aqe_switches_smj_to_broadcast_at_runtime(spark, sf_smoke):
    """With static broadcast disabled but the ADAPTIVE threshold on,
    AQE must discover at runtime that the filtered dim is tiny and
    switch the sort-merge join to broadcast-hash — the runtime replan
    that saves a shuffle when static stats lie."""
    from google_cloud_ecommerce_spark.catalog import load_table
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_smoke, "lineitem")
        orders = load_table(spark, sf_smoke, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).groupBy(
            "o_orderpriority"
        ).count()
        joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in final, final
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_new_operator_plan_shapes(spark, sf_smoke):
    """Pin the scale posture of the latest operators: the contamination
    and filtered-ANN joins keep their broadcast (bench/query side never
    shuffles the corpus), the bitmap rollup is a pure two-level hash
    aggregate, and corpus-prep plans no cartesian product anywhere."""
    from google_cloud_ecommerce_spark.operators import pipeline, similarity
    from google_cloud_ecommerce_spark.queries import scale

    plan = plan_of(pipeline.contamination_check(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan

    plan = plan_of(similarity.similarity_filtered_topk(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(scale.user_activity_bitmap(spark, sf_smoke))
    assert "HashAggregate" in plan
    assert "Join" not in plan  # one table, two aggregation levels, no joins

    plan = plan_of(pipeline.pretraining_corpus_prep(spark, sf_smoke))
    assert "CartesianProduct" not in plan

    plan = plan_of(pipeline.doc_chunking(spark, sf_smoke))
    assert "Exchange" not in plan  # generator + project only: shuffle-free


def test_ann_index_scans_partition_prune(spark, sf_smoke):
    """The materialized-index probes must read the index via partition
    pruning: the broadcast join against the tiny query set becomes a
    dynamicpruningexpression on the bucket/cell partition column, so a
    probe touches 1/2^p (LSH) / NPROBE/16 (IVF) of the stored corpus
    instead of scanning it."""
    from google_cloud_ecommerce_spark.operators import similarity

    for q, part_col in (
        (similarity.similarity_index_topk, "bucket"),
        (similarity.similarity_ivf_index_topk, "cell"),
    ):
        plan = plan_of(q(spark, sf_smoke))
        # the index scan's PartitionFilters section must carry the DPP filter
        assert "dynamicpruningexpression" in plan, f"{q.__name__} lost DPP:\n{plan}"
        seg = plan.split("dynamicpruningexpression", 1)[0][-400:]
        assert part_col in seg or part_col in plan.split("PartitionFilters", 1)[1][:200]


def test_ann_index_matches_recomputing_variants(spark, sf_smoke):
    """Index-backed results must be value-identical to the recomputing
    forms (parquet round-trips doubles bit-exactly)."""
    from google_cloud_ecommerce_spark.operators import similarity

    for idx_q, base_q in (
        (similarity.similarity_index_topk, similarity.similarity_lsh_topk),
        (similarity.similarity_ivf_index_topk, similarity.similarity_ivf_topk),
    ):
        got = sorted(map(tuple, idx_q(spark, sf_smoke).collect()))
        want = sorted(map(tuple, base_q(spark, sf_smoke).collect()))
        assert got == want, f"{idx_q.__name__} diverges from {base_q.__name__}"


def test_ann_index_build_is_lazy(spark, sf_smoke, tmp_path):
    """Second build with an unchanged source must be a no-op (marker
    fingerprint match), so repeated probes don't rewrite the layout."""
    import os

    from google_cloud_ecommerce_spark.operators import similarity

    builders = (
        similarity.build_lsh_index,
        similarity.build_ivf_index,
        similarity.build_pq_index,
        similarity.build_ivfpq_index,
    )
    paths = {b.__name__: b(spark, sf_smoke) for b in builders}
    mtimes = {k: os.path.getmtime(os.path.join(v, "_SOURCE")) for k, v in paths.items()}
    paths2 = {b.__name__: b(spark, sf_smoke) for b in builders}
    assert paths == paths2
    for k, v in paths2.items():
        assert os.path.getmtime(os.path.join(v, "_SOURCE")) == mtimes[k]


def test_record_id_no_global_data_window(spark, sf_smoke):
    """The dense-id construction must not plan an unpartitioned window
    over the event data — the only full shuffle is the range
    repartition; the running-sum window runs on the per-partition count
    table (explicit lit(0) partition spec)."""
    from google_cloud_ecommerce_spark.queries import reference

    df = reference.record_id(spark, sf_smoke)
    rows = df.count()
    assert rows > 0
    plan = plan_of(df)
    # the data-side plan is scan of the localCheckpoint + broadcast join;
    # any Window node present must carry a partition spec
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line.lower():
            assert "partitionBy" not in line or "lit" in line


def test_round2_operator_plan_shapes(spark, sf_smoke):
    """Scale posture of the round-2 additions: BM25's one-row stats
    frame and k-means' K centroids broadcast (the corpus side never
    shuffles for scoring/assignment); segment dedup is shuffle-bounded
    by its two hash exchanges; redaction and mixture sampling plan as
    pure scans (no exchange at all)."""
    from google_cloud_ecommerce_spark.operators import dedup, pipeline, similarity, text
    from google_cloud_ecommerce_spark.queries import scale

    plan = plan_of(text.bm25_search(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(similarity.kmeans_assign(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # assignment is shuffle-free: the argmin is an array_min fold over
    # the broadcast centroid array, never a per-vec_id window rank
    # (which would re-shuffle the corpus every Lloyd iteration)
    assert "Window" not in plan

    # segment dedup: digest shuffles for the count join (probe + the
    # partially-aggregated build side) + the doc_id roll-up, nothing
    # more; no window operator (a hot-segment window partition could
    # not be AQE-skew-split, the join can). Count tree nodes, not the
    # details section where every node reappears.
    plan = plan_of(dedup.dedup_segments(spark, sf_smoke))
    assert "Window" not in plan
    assert plan.count("+- Exchange") <= 3
    # round 6: the (doc, segment) count aggregate is pinned once (lazy
    # localCheckpoint) — the final plan reads the materialized narrow
    # table and its rollups still keep map-side partial SUMs
    assert "ExistingRDD" in plan
    assert "partial_sum" in plan  # map-side partials survive

    for q in (text.pii_redaction, pipeline.corpus_mixture_sample):
        plan = plan_of(q(spark, sf_smoke))
        assert "Exchange" not in plan, f"{q.__name__} should be shuffle-free"
        assert "Join" not in plan

    # zorder_curve is a pure projection; the write path adds exactly the
    # intended range exchange
    plan = plan_of(scale.zorder_curve(spark, sf_smoke))
    assert "Exchange" not in plan and "Join" not in plan


def test_quantize_drift_bpe_plan_shapes(spark, sf_smoke):
    """embedding_quantize is a pure per-row projection (no exchange);
    corpus_drift counts both epochs in ONE conditional aggregate on
    (lang, token) (round 12 — no snapshot join left) and broadcasts the
    per-lang totals; each BPE round is one vocabulary aggregate + a
    1-row broadcast merge."""
    from google_cloud_ecommerce_spark.operators import pipeline, similarity, text

    plan = plan_of(similarity.embedding_quantize(spark, sf_smoke))
    assert "Exchange" not in plan and "Join" not in plan

    plan = plan_of(pipeline.corpus_drift(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # per-lang totals broadcast

    plan = plan_of(text.bpe_merges(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_distributed_quartiles_has_no_window(spark, sf_smoke):
    """The scale-true ntile must plan ZERO window operators (the global
    sort is replaced by range partition + collected prefix offsets) and
    no join at all: the per-partition offsets and the total ride into
    the plan as literals, so nothing is joined back onto the data."""
    from google_cloud_ecommerce_spark.queries import relational

    plan = plan_of(relational.lineitem_quartiles_distributed(spark, sf_smoke))
    assert "Window" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_rfm_affinity_tfidf_profile_plan_shapes(spark, sf_smoke):
    """rfm buckets against 1-row broadcast boundaries (the fact never
    reshuffles for bucketing); affinity self-joins the DISTINCT
    (user, band) set with broadcast dimension counts; tfidf broadcasts
    the vocabulary; the profiler is a single aggregate (no join)."""
    from google_cloud_ecommerce_spark.operators import text
    from google_cloud_ecommerce_spark.queries import quality, reference

    plan = plan_of(reference.rfm_segments(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(reference.band_affinity(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(text.tfidf_top_terms(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(doc_id" in plan  # ranking window stays per-doc

    plan = plan_of(quality.events_profile(spark, sf_smoke))
    assert "Join" not in plan
    assert "Expand" in plan  # multi-count-distinct single-pass plan


def test_lm_countmin_plan_shapes(spark, sf_smoke):
    """lm_score broadcasts the vocabulary (corpus shuffles only for the
    doc roll-up); the count-min sketch is hash aggregates + broadcast
    cell lookups — no cartesian anywhere."""
    from google_cloud_ecommerce_spark.operators import text

    plan = plan_of(text.lm_score(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(text.countmin_estimates(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # Round-9 fix (VERDICT r8 #1): the ground-truth join's broadcast
    # build side must be the IN-list-filtered probe rows (<= 5), never
    # the vocabulary-sized histogram — every BroadcastExchange that
    # reads the token histogram directly (no reducing aggregate in
    # between) has to sit right above the probe IN filter; the other
    # exchanges build fixed-width sketch-cell aggregates (CM_WIDTH
    # buckets per depth).
    tree = text.countmin_estimates(
        spark, sf_smoke
    )._jdf.queryExecution().executedPlan().toString()
    builds = tree.split("BroadcastExchange")[1:]
    filtered = [b for b in builds if re.search(r"Filter token#\d+ IN \(", b)]
    assert filtered, tree
    for b in builds:
        head = "\n".join(b.splitlines()[:3])
        assert (
            re.search(r"Filter token#\d+ IN \(", head) or "HashAggregate" in head
        ), head


def test_vector_compression_plan_shapes(spark, sf_smoke):
    """random_projection is pure map-side math (no exchange, no join);
    pq_encode broadcasts the tiny per-subspace codebooks and never
    shuffles the corpus for assignment."""
    from google_cloud_ecommerce_spark.operators import similarity

    plan = plan_of(similarity.random_projection(spark, sf_smoke))
    assert "Exchange" not in plan and "Join" not in plan

    plan = plan_of(similarity.pq_encode(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # codebooks must never merge-join


def test_pq_adc_probe_reads_codes_not_floats(spark, sf_smoke):
    """similarity_pq_topk's large-side scan is the persisted codes
    table: every LUT lookup joins a broadcast 80-row table, nothing
    merge-joins, and the codes scan must not read any float/vector
    column — reading codes instead of floats is the entire point of
    the PQ layout."""
    from google_cloud_ecommerce_spark.operators import similarity

    plan = plan_of(similarity.similarity_pq_topk(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # every scan of the pq codes layout reads only vec_id + code cols
    for chunk in plan.split("ReadSchema: "):
        first = chunk.splitlines()[0] if chunk else ""
        if "code_0" in first:
            assert "array" not in first and "double" not in first, first


def test_ivfpq_probe_prunes_cells_and_reads_codes_only(spark, sf_smoke):
    """IVFADC composes both pruning axes: the codes scan must carry the
    dynamic cell-partition filter (touch N_PROBE/16 of the corpus) AND
    read only the code columns (M ints, never floats); every LUT join
    broadcasts."""
    from google_cloud_ecommerce_spark.operators import similarity

    plan = plan_of(similarity.similarity_ivfpq_topk(spark, sf_smoke))
    assert "dynamicpruningexpression" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    saw_codes_scan = False
    for chunk in plan.split("ReadSchema: "):
        first = chunk.splitlines()[0] if chunk else ""
        if "code_0" in first:
            saw_codes_scan = True
            assert "array" not in first and "double" not in first, first
    assert saw_codes_scan


def test_text_index_scan_partition_prunes(spark, sf_smoke):
    """The probe must read only the query terms' literal bucket
    partitions — PartitionFilters on the index scan, no full postings
    read — and return byte-identical rows to the recomputing form."""
    from google_cloud_ecommerce_spark.operators import text

    import re

    df = text.text_index_search(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # static literal pruning on the index scan AND the token pushdown
    assert re.search(r"PartitionFilters: \[bucket#\d+ IN \(", plan)
    assert "PushedFilters: [In(token" in plan
    got = [tuple(r) for r in df.collect()]
    want = [tuple(r) for r in text.keyword_search(spark, sf_smoke).collect()]
    assert got == want


def test_quantile_sketch_partial_bottomk_and_broadcast(spark, sf_smoke):
    """The bottom-k-by-hash sample must pre-prune per map partition
    (WindowGroupLimit) so the shuffle carries at most K rows per
    partition per group; the exact-count join must broadcast."""
    from google_cloud_ecommerce_spark.queries.stats import value_quantile_sketch

    plan = plan_of(value_quantile_sketch(spark, sf_smoke))
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_contamination_broadcast_guard(spark, sf_smoke):
    """The bench side broadcasts only when its size upper bound fits
    the threshold: default (small fixture) plans the broadcast hash
    join on the shingle key. Above threshold the guard drops the hint;
    with the engine's own statistics threshold disabled too (as at real
    scale, where stats exceed it), the shingle join falls back to its
    shuffled form — no driver-side broadcast of a bench slice that
    could be corpus-sized."""
    from google_cloud_ecommerce_spark.operators import pipeline

    plan_small = plan_of(pipeline.contamination_check(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan_small

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan_big = plan_of(
            pipeline.contamination_check(spark, sf_smoke, broadcast_threshold=0)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big
    assert "BroadcastHashJoin" not in plan_big


def _guarded_entries():
    from google_cloud_ecommerce_spark.operators import dedup, text

    return [
        pytest.param(text.lm_score, id="lm_score"),
        pytest.param(text.lm_bigram_score, id="lm_bigram_score"),
        pytest.param(text.kn_bigram_score, id="kn_bigram_score"),
        pytest.param(text.tfidf_top_terms, id="tfidf_top_terms"),
        pytest.param(dedup.dedup_prefix_filter, id="dedup_prefix_filter"),
    ]


@pytest.mark.parametrize("op", _guarded_entries())
def test_data_sized_broadcast_guards(spark, sf_smoke, op):
    """Round-8 guards (VERDICT r7 #1): the vocab / bigram-model /
    per-doc-sizes tables carry a static broadcast hint only when the
    guards.py metadata-cheap upper bound fits the threshold. Small
    fixture: the hint engages (BroadcastHashJoin on the model join).
    Above threshold (broadcast_threshold=0), with the engine's own
    statistics threshold disabled too (as at real scale), every
    model-side join falls back to its shuffled form — the only
    broadcasts left are the 1-row aggregate crossJoins (BNLJ), never a
    hash-join build of a data-sized table."""
    plan_small = plan_of(op(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan_small, plan_small

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan_big = plan_of(op(spark, sf_smoke, broadcast_threshold=0))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big
    assert "BroadcastHashJoin" not in plan_big, plan_big


@pytest.mark.parametrize("name", ["token_zipf_fit", "vocab_prune_coverage"])
def test_hist_prefix_sum_guard(spark, sf_smoke, name):
    """Round-9 (VERDICT r8 #5): the frequency-histogram exclusive
    prefix sum is guarded on guards.hist_bytes_bound. Small fixture:
    the triangular broadcast θ-join on (e_f > f) engages. Above the
    bound: the θ-join (quadratic in |hist| and a whole-histogram
    broadcast) is GONE, replaced by range_partition_prefix_sum — the
    only non-equi join left is the per-PARTITION offsets triangle
    (bounded by n_parts, a knob, not data), and the running-sum window
    is partitioned by the range id (never unpartitioned)."""
    from google_cloud_ecommerce_spark.operators import text

    op = getattr(text, name)
    theta = re.compile(r"\(e_f#\d+L? > f#\d+L?\)")
    tree_small = op(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert theta.search(tree_small), tree_small

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df_big = op(spark, sf_smoke, broadcast_threshold=0)
        tree_big = df_big._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert not theta.search(tree_big), tree_big
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", tree_big)
    assert specs and all("__pid" in s for s in specs), specs


def test_round4_pipeline_ops_plan_shapes(spark, sf_smoke):
    """quality_classifier_score and span_corruption_masks are pure
    per-row projections — the classifier/mask math rides the scan, no
    exchange, no join; importance_sampling_weights is one map-side
    aggregate plus a 1-row broadcast (never a shuffle of the corpus
    for the totals)."""
    from google_cloud_ecommerce_spark.operators import pipeline, text

    for q in (text.quality_classifier_score, pipeline.span_corruption_masks):
        plan = plan_of(q(spark, sf_smoke))
        assert "Exchange" not in plan and "Join" not in plan, q.__name__

    plan = plan_of(pipeline.importance_sampling_weights(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_and_ivf_assignments_are_window_free(spark, sf_smoke):
    """Round-4 rewrites: the PQ codebook assignment (pq_encode) and the
    IVF cell assignment (similarity_ivf_topk) are broadcast argmin /
    sort-slice folds over the collapsed centroid rows — no Window
    operator anywhere (the old forms window-ranked per (vec_id, m) /
    per vec_id, re-shuffling the corpus each training round). The only
    windows left in the IVF query are the per-q_id top-k group limits,
    which this lint deliberately permits for pq-free pq_encode."""
    from google_cloud_ecommerce_spark.operators import similarity

    plan = plan_of(similarity.pq_encode(spark, sf_smoke))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(similarity.similarity_ivf_topk(spark, sf_smoke))
    # cell ASSIGNMENT is window-free; the only WindowGroupLimit is the
    # per-query top-k (partitioned by q_id)
    assert "partitionBy" not in plan  # no raw window spec leaks into plan text
    assert "CartesianProduct" not in plan
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    for spec in specs:
        assert "q_id" in spec, f"unexpected non-q_id window: {spec[:80]}"



def test_semdedup_pair_join_is_salted(spark, sf_smoke):
    """Round-4 pin: the semdedup pair join shuffles on (cluster_id,
    subkey, salt) — the salt fans each bucket's pair space across
    tasks (k * n_sub keys alone serialize each bucket into one task),
    and the per-pair cosine is a flat scalar multiply-add chain, never
    an interpreted aggregate/zip_with fold in the join condition."""
    from google_cloud_ecommerce_spark.operators import dedup

    df = dedup.semdedup_clusters(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    salted = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "salt" in l and "subkey" in l
    ]
    assert len(salted) >= 2, "pair join lost its salted partitioning"
    # r12: SHUFFLE_HASH hint — hashing skips sorting the 68-column
    # scalar-expanded rows on both exchanges (guide §3.1).
    join_line = next(l for l in plan.splitlines() if "ShuffledHashJoin" in l)
    assert "zip_with" not in join_line, "pair cosine fell back to a HOF"
    assert "SortMergeJoin" not in plan, "pair join regressed to sort-merge"


def test_bucketed_join_has_no_exchange_before_smj(spark, sf_smoke):
    """Round-5 pin: the co-located join consumes the bucketBy layout
    directly — both scans report Bucketed: true and the ONLY Exchange
    in the plan is the final tiny group-by, never a join-side shuffle."""
    from google_cloud_ecommerce_spark.queries.joins import bucketed_join_revenue

    df = bucketed_join_revenue(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    join_part = plan[plan.find("SortMergeJoin"):]
    assert "Exchange" not in join_part, "join side shuffled despite buckets"
    assert plan.count("Exchange") <= 1  # the final group-by only


def test_day_pruned_scan_prunes_partitions(spark, sf_smoke):
    """Round-5 pin: the day predicate reaches the partitioned scan as a
    PartitionFilter and only the matching day directory is read."""
    from google_cloud_ecommerce_spark.queries.scale import PRUNE_DAY, day_pruned_scan

    df = day_pruned_scan(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # the day predicate must be a PARTITION filter (listing-time prune),
    # not a data filter evaluated after reading
    assert f"(day#" in scan and PRUNE_DAY in scan.split("PartitionFilters")[1].split(
        "PushedFilters"
    )[0]
    assert "DataFilters: []" in scan


def test_round5_retrieval_plan_shapes(spark, sf_smoke):
    """Round-5 pins: (a) maxsim collapses chunks to docs in a hash
    aggregate BEFORE the per-query top-k window (the window input is
    |docs|, not |chunks|); (b) the SQ search broadcasts the quantized
    query side and partitions its ranking window on q_id; (c) the nDCG
    report broadcasts the |labels|-row count table; none of them emit
    a cartesian product."""
    from google_cloud_ecommerce_spark.operators.retrieval import (
        retrieval_ndcg_report,
    )
    from google_cloud_ecommerce_spark.operators.similarity import (
        maxsim_retrieval,
        similarity_sq_topk,
    )

    plan = maxsim_retrieval(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    win = plan.find("Window")
    agg_after_window_input = plan.find("HashAggregate", win)
    assert win != -1 and agg_after_window_input != -1, "maxsim lost its pre-window aggregate"

    plan = similarity_sq_topk(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("q_id" in s for s in specs)

    plan = retrieval_ndcg_report(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2  # queries + label counts


def test_winnowing_is_single_scan_single_pass(spark, sf_smoke):
    """Round-7 pin (VERDICT r6 #1): the cross-doc shared count comes
    from count(*) OVER (PARTITION BY fp), so the exploded fingerprint
    subtree is planned ONCE — one documents FileScan and exactly two
    shuffles (fp window + per-doc aggregate), where the round-6
    aggregate+join-back shape re-planned it into 4 scans / 6
    exchanges. The window must stay partitioned on fp."""
    import re

    from google_cloud_ecommerce_spark.operators.text import winnowing_fingerprints

    df = winnowing_fingerprints(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, "winnowing re-scans documents"
    tree_exchanges = sum(1 for l in plan.splitlines() if "+- Exchange" in l)
    assert tree_exchanges <= 2, f"winnowing grew extra shuffles: {tree_exchanges}"
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("fp" in s for s in specs), "window lost its fp partition"


def test_sweep_reports_are_single_pass(spark, sf_smoke):
    """Round-7 pins (VERDICT r6 #3): selection-curve reports compute in
    one pair pass, not one corpus re-scan per grid point.
    matryoshka_dim_sweep folds each truncation dot from prefix slices
    of one shared elementwise-product array (was 10 embeddings scans;
    now the corpus side + the pushdown-pruned probe side);
    matryoshka_recall shares the helper. cross_source_dedup_matrix
    carries `source` through the MinHash verify join's existing scans
    (was 6 documents scans, now the verify stage's own 4 and nothing
    more). band_affinity pins the distinct (user, band) table, so the
    final plan reads events once (n_users) and the pair join + basket
    counts reuse the checkpoint."""
    from google_cloud_ecommerce_spark.operators.dedup import (
        cross_source_dedup_matrix,
        dedup_minhash_lsh,
    )
    from google_cloud_ecommerce_spark.operators.similarity import (
        matryoshka_dim_sweep,
        matryoshka_recall,
    )
    from google_cloud_ecommerce_spark.queries.reference import band_affinity

    def scans(df):
        return (
            df._jdf.queryExecution().executedPlan().toString().count("FileScan parquet")
        )

    assert scans(matryoshka_dim_sweep(spark, sf_smoke)) == 2
    assert scans(matryoshka_recall(spark, sf_smoke)) == 2
    # the matrix must not exceed the verify stage's own scan count
    assert scans(cross_source_dedup_matrix(spark, sf_smoke)) == scans(
        dedup_minhash_lsh(spark, sf_smoke)
    )
    assert scans(band_affinity(spark, sf_smoke)) == 1


def test_multiprobe_broadcasts_probes_and_scans_corpus_once(spark, sf_smoke):
    """Round-8: the multi-probe expansion must stay on the broadcast
    (query) side — the corpus is scanned once and hash-joined against
    the exploded probe keys; no shuffle of the embedding table, no
    cartesian fallback."""
    plan = plan_of(similarity.similarity_multiprobe_topk(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, f"probe join lost its broadcast:\n{plan}"
    assert "CartesianProduct" not in plan
    corpus_scans = sum(
        1 for l in plan.splitlines() if "Scan parquet" in l and "embeddings" in l
    )
    assert corpus_scans <= 2  # corpus side + broadcast query side


def test_binary_topk_scans_twice_and_broadcasts_candidates(spark, sf_smoke):
    """Round-9: binary quantization plans exactly two embeddings scans
    (sign words for the Hamming pass; full vectors for the rerank —
    plus the two knob-bounded broadcast sides built from them), every
    join is a broadcast (query words, candidate list, query vectors —
    all Q / QxC bounded), and the only windows are the per-q_id Hamming
    cutoff and rerank rank — never a global sort of the corpus."""
    df = similarity.similarity_binary_topk(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    scans = sum(
        1 for l in plan.splitlines() if "FileScan parquet" in l and "embeddings" in l
    )
    assert scans <= 4, plan  # 2 plan roles x (stream + broadcast build)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("q_id" in s for s in specs), specs


def test_market_basket_rule_join_rides_the_pinned_aggregate(spark, sf_smoke):
    """Round-8: pairs, marginals, and the basket total all derive from
    ONE pinned (localCheckpoint) aggregate — the executed plan must
    show zero parquet scans (the corpus subtree ran exactly once at
    checkpoint time) and only broadcast joins over the
    attribute-bounded rule tables."""
    from google_cloud_ecommerce_spark.queries.stats import market_basket_rules

    df = market_basket_rules(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 0, "rule join re-planned the corpus scan"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_weighted_sample_is_takeordered_no_shuffle(spark, sf_smoke):
    """Round-8: the A-ES draw must plan TakeOrderedAndProject —
    per-partition top-k merged at the driver — with ZERO exchanges: a
    global sort or window here would shuffle the whole corpus for a
    k-row result."""
    from google_cloud_ecommerce_spark.operators.pipeline import weighted_sample_topk

    plan = plan_of(weighted_sample_topk(spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan, f"lost the top-k plan:\n{plan}"
    assert "Exchange" not in plan, f"weighted sample grew a shuffle:\n{plan}"
    assert "Window" not in plan


def test_stratified_sample_prunes_per_group_map_side(spark, sf_smoke):
    """Round-9: the per-source A-ES draw must plan WindowGroupLimit —
    at most k rows per source survive each map partition before the
    shuffle — and the only window is partitioned by source (never a
    global sort)."""
    from google_cloud_ecommerce_spark.operators.pipeline import (
        stratified_sample_topk,
    )

    plan = plan_of(stratified_sample_topk(spark, sf_smoke))
    assert "WindowGroupLimit" in plan, f"lost the map-side group limit:\n{plan}"
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("source" in s for s in specs), specs


def test_merge_upsert_semi_broadcasts_and_anti_is_unhinted(spark, sf_smoke):
    """Round-9 MERGE shape: the affected-day semi-join carries the
    static broadcast (tiny day set) and DPP-prunes the day-partitioned
    base scan; the key anti-join is UNHINTED — the changelog is
    fact-derived, so with the statistics threshold disabled it must
    fall back to its shuffled form while the day broadcast stays."""
    from google_cloud_ecommerce_spark.io import ensure_day_partitioned_events
    from google_cloud_ecommerce_spark.queries.scale import (
        _apply_merge,
        _merge_changelog,
    )

    src = ensure_day_partitioned_events(spark, sf_smoke)
    base = spark.read.parquet(src)
    chg = _merge_changelog(spark, sf_smoke)

    plan = _apply_merge(base, chg)._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin \[day#\d+\], \[day#\d+\], LeftSemi", plan)
    assert "dynamicpruning" in plan, "day partition scan lost DPP"
    assert "CartesianProduct" not in plan

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan_big = (
            _apply_merge(base, chg)._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert re.search(
        r"BroadcastHashJoin \[day#\d+\], \[day#\d+\], LeftSemi", plan_big
    ), "the explicit day broadcast must survive the threshold"
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[event_id#\d+L?\].*LeftAnti", plan_big), plan_big


def test_time_travel_resolution_lists_only_manifest_slices(spark, sf_smoke, tmp_path):
    """Round-10 (replaces the round-9 listing-time-filter test with the
    STRONGER manifest property): a versioned read lists exactly the
    slice dirs its manifest references — the v1 resolution's file set
    contains every rewritten day's v1 slice and NO v0 file of any
    rewritten day, with no filter anywhere in the plan (superseded
    slices aren't filtered out, they are never listed at all). The v0
    read conversely sees only v0 files."""
    import pyspark.sql.functions as F

    from google_cloud_ecommerce_spark.io import ensure_day_partitioned_events
    from google_cloud_ecommerce_spark.lakehouse import (
        table_commit_rewrite,
        table_create,
        table_read,
    )
    from google_cloud_ecommerce_spark.queries.scale import TT_DAY_CUTOFF

    src = ensure_day_partitioned_events(spark, sf_smoke)
    root = str(tmp_path / "tt_table")
    table_create(spark.read.parquet(src), root)
    rewritten = table_read(spark, root, 0).filter(
        F.dayofmonth("day") <= TT_DAY_CUTOFF
    )
    table_commit_rewrite(rewritten, root)

    rewritten_days = {
        f"day={r.day.isoformat()}"
        for r in rewritten.select("day").distinct().collect()
    }
    assert rewritten_days  # the fixture must actually rewrite something

    from google_cloud_ecommerce_spark.lakehouse import _read_manifest

    m0, m1 = _read_manifest(root, 0), _read_manifest(root, 1)
    assert all(m1[d] != m0[d] for d in rewritten_days)
    untouched_days = set(m0) - rewritten_days
    assert all(m1[d] == m0[d] for d in untouched_days)

    def day_of(f: str) -> str:
        return next(p for p in f.split("/") if p.startswith("day="))

    v1 = table_read(spark, root)
    v1_files = v1.inputFiles()
    # every file the v1 resolution lists sits under exactly the slice
    # dir manifest v1 references for its day — superseded v0 slices of
    # rewritten days are never listed
    assert {day_of(f) for f in v1_files} == set(m1)
    for f in v1_files:
        assert f"/{m1[day_of(f)]}/" in f, (f, m1[day_of(f)])
    plan = v1._jdf.queryExecution().executedPlan().toString()
    # the round-9 mechanism filtered on dayofmonth(day); the manifest
    # resolution needs no predicate at all
    assert "dayofmonth" not in plan, plan

    v0_files = table_read(spark, root, 0).inputFiles()
    for f in v0_files:
        assert f"/{m0[day_of(f)]}/" in f, (f, m0[day_of(f)])
    # and the two versions' untouched-day files are the SAME files
    untouched_v1 = {f for f in v1_files if day_of(f) in untouched_days}
    untouched_v0 = {f for f in v0_files if day_of(f) in untouched_days}
    assert untouched_v1 == untouched_v0


def test_skew_join_demo_aqe_splits_hot_key(spark, sf_smoke):
    """VERDICT r9 #7: the registry's skew_join_demo join — hot uid 0
    carrying ~40% of events against a fact-derived profile — must let
    AQE split the oversized post-shuffle partition. Local data is MBs
    while production skew thresholds are 256 MB, so the test tightens
    the thresholds (the same scaling trick as the synthetic AQE test)
    and asserts skew=true in the FINAL adaptive plan of the exact join
    subtree the shipped query aggregates over. Default-conf shape is
    pinned too: the merge hint holds (SortMergeJoin, no broadcast on
    the fact-derived side)."""
    from google_cloud_ecommerce_spark.queries.joins import _skew_join

    # default confs: hint respected, no broadcast of the profile
    plan = plan_of(_skew_join(spark, sf_smoke))
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # sf0.1, not smoke: a skewed reduce partition splits along
        # MAPPER boundaries, so a single-mapper scan (events below the
        # compaction threshold is one file, one task) has nothing to
        # split no matter how hot the key — the sf0.1 compacted mirror
        # feeds the shuffle from ~32 mappers and the hot partition
        # clears the 16KB threshold
        joined = _skew_join(spark, "/root/testdata/sf0.1")
        n = len(joined.collect())
        assert n > 0
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_version_diff_reads_only_changed_partitions(spark, sf_smoke, tmp_path):
    """Round-10: the manifest diff prunes at POINTER-comparison time —
    a version-to-version diff lists files only for partitions whose
    slice dir changed; unchanged days' files appear in neither side's
    scan (input proportional to the delta, not the table)."""
    import pyspark.sql.functions as F

    from google_cloud_ecommerce_spark.io import ensure_day_partitioned_events
    from google_cloud_ecommerce_spark.lakehouse import (
        _read_manifest,
        read_slices,
        table_commit_rewrite,
        table_create,
        table_read,
    )
    from google_cloud_ecommerce_spark.queries.scale import TT_DAY_CUTOFF

    src = ensure_day_partitioned_events(spark, sf_smoke)
    root = str(tmp_path / "vdiff")
    table_create(spark.read.parquet(src), root)
    table_commit_rewrite(
        table_read(spark, root, 0).filter(F.dayofmonth("day") <= TT_DAY_CUTOFF),
        root,
    )
    m0, m1 = _read_manifest(root, 0), _read_manifest(root, 1)
    changed = sorted(p for p in m1 if m1[p] != m0.get(p))
    unchanged = set(m0) - set(changed)
    assert changed and unchanged  # both sides of the split must exist

    files = set(
        read_slices(spark, root, [m0[p] for p in changed]).inputFiles()
    ) | set(read_slices(spark, root, [m1[p] for p in changed]).inputFiles())
    days_scanned = {
        next(part for part in f.split("/") if part.startswith("day="))
        for f in files
    }
    assert days_scanned == set(changed)
    assert not (days_scanned & unchanged)
