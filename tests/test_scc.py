"""Strongly-connected-components kernel (operators/scc.py).

Ground truth everywhere is the driver-local iterative Tarjan
(`_tarjan_local`) — itself pinned below on a handcrafted digraph with
known SCCs — so the distributed FB-Trim rounds, the bounded phase-3
escape, and the bowtie classifier are each checked against an
independent exact algorithm, the components/triangles discipline
(tests/oracles.py).
"""

from __future__ import annotations

import hypothesis.strategies as st
import pytest
from hypothesis import given, settings

from parrsb_spark import graphs
from parrsb_spark.operators.scc import (
    _tarjan_local,
    bowtie_classes,
    strongly_connected_components,
)

# cycle (1,2,3) → bridge → cycle (4,5) → tendril 6; isolated-ish 7→8
HANDMADE = [
    (1, 2), (2, 3), (3, 1),          # SCC {1,2,3}
    (3, 4),                          # one-way bridge
    (4, 5), (5, 4),                  # SCC {4,5}
    (5, 6),                          # OUT tendril
    (7, 8),                          # disconnected pair (two singletons)
    (2, 2),                          # self-loop: ignored
]
HANDMADE_SCC = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 7, 8: 8}


def _scc_map(df):
    return {r["vid"]: r["scc"] for r in df.collect()}


def test_tarjan_local_on_handmade():
    verts = sorted({x for e in HANDMADE for x in e})
    got = dict(_tarjan_local(HANDMADE, [(v,) for v in verts]))
    assert got == HANDMADE_SCC


def test_scc_handmade_exact(spark):
    got = _scc_map(strongly_connected_components(graphs.to_df(spark, HANDMADE)))
    assert got == HANDMADE_SCC


def test_scc_rejects_nonpositive_max_iter(spark):
    with pytest.raises(ValueError, match="max_iter"):
        strongly_connected_components(graphs.to_df(spark, HANDMADE), max_iter=0)


def test_scc_local_threshold_path_identical(spark):
    df = graphs.to_df(spark, HANDMADE)
    dist = _scc_map(strongly_connected_components(df))
    loc = _scc_map(strongly_connected_components(df, local_threshold=10**6))
    assert dist == loc == HANDMADE_SCC


def test_bowtie_handmade(spark):
    # largest SCC = {1,2,3} (core); nothing reaches it (no IN);
    # 4,5,6 reachable from it (OUT); 7,8 disconnected (other)
    got = {r["vid"]: r["cls"] for r in bowtie_classes(graphs.to_df(spark, HANDMADE)).collect()}
    assert got == {
        1: "core", 2: "core", 3: "core",
        4: "out", 5: "out", 6: "out",
        7: "other", 8: "other",
    }


def test_bowtie_with_in_side(spark):
    edges = HANDMADE + [(9, 1), (10, 9)]  # chain 10→9→core: IN side
    got = {r["vid"]: r["cls"] for r in bowtie_classes(graphs.to_df(spark, edges)).collect()}
    assert got[9] == "in" and got[10] == "in"
    assert got[1] == "core" and got[4] == "out" and got[7] == "other"


edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=28
)
PROP = settings(max_examples=10, deadline=None, derandomize=True)


@given(edges=edge_lists)
@PROP
def test_scc_matches_tarjan_on_random_digraphs(spark, edges):
    verts = sorted({x for e in edges for x in e})
    want = dict(_tarjan_local(edges, [(v,) for v in verts]))
    got = _scc_map(strongly_connected_components(graphs.to_df(spark, edges)))
    assert got == want, edges


def test_scc_entry_row_matches_tarjan_sf0001(spark):
    """The driver-contract derivation (block chain-digraph) end-to-end
    at sf0.001 against Tarjan — the CORRECTNESS row's pytest twin."""
    from parrsb_spark import entry_queries as EQ

    spark.catalog.clearCache()
    e = EQ.scc_digraph_edges(spark, "/root/testdata/sf0.001")
    rows = [(r.src, r.dst) for r in e.collect()]
    verts = sorted({x for t in rows for x in t})
    want = dict(_tarjan_local(rows, [(v,) for v in verts]))
    got = _scc_map(strongly_connected_components(e))
    assert got == want
    # structure is genuinely rich: many SCCs, some nontrivial
    from collections import Counter

    sizes = Counter(Counter(got.values()).values())
    assert sum(sizes.values()) > 10 and max(Counter(got.values()).values()) >= 3
    # neither the edge derivation nor the kernel leaves a cached frame
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_scc_one_coloring_round_plan_no_python_no_window(spark):
    """The per-iteration gather (join + groupBy-min) must stay JVM-side
    with no window — the labelprop hub-argmax discipline."""
    from pyspark.sql import functions as F

    eact = graphs.to_df(spark, HANDMADE)
    color = (
        eact.select(F.col("src").alias("vid")).distinct().withColumn("color", F.col("vid"))
    )
    nbr = (
        eact.join(color.select(F.col("vid").alias("src"), "color"), "src")
        .groupBy(F.col("dst").alias("vid"))
        .agg(F.min("color").alias("nbr"))
    )
    step = color.join(nbr, "vid", "left").select(
        "vid", F.least("color", F.coalesce("nbr", "color")).alias("color")
    )
    plan = step._jdf.queryExecution().executedPlan().toString()
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "EvalPython", "Window"):
        assert bad not in plan, f"{bad} in scc coloring-round plan"


def test_condensation_levels_handmade(spark):
    # condensation: {1,2,3} -> {4,5} -> {6}; {7} -> {8}
    # levels: scc1=0, scc4=1, scc6=2, scc7=0, scc8=1
    from parrsb_spark.operators.scc import condensation_levels

    got = {
        r["vid"]: (r["scc"], r["level"])
        for r in condensation_levels(graphs.to_df(spark, HANDMADE)).collect()
    }
    assert got == {
        1: (1, 0), 2: (1, 0), 3: (1, 0),
        4: (4, 1), 5: (4, 1),
        6: (6, 2),
        7: (7, 0), 8: (8, 1),
    }


def test_condensation_levels_longest_path_semantics(spark):
    # diamond with a long arm: 1->2->3->4 and 1->4 — level(4) must be
    # the LONGEST path (3), not the shortest (1)
    from parrsb_spark.operators.scc import condensation_levels

    edges = [(1, 2), (2, 3), (3, 4), (1, 4)]
    got = {r["vid"]: r["level"] for r in condensation_levels(graphs.to_df(spark, edges)).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
