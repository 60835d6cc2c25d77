"""MIS + maximal matching vs closed forms, brute invariants, and
bitwise layout-independence.

Closed forms hit the definitions' corners: K4 (any MIS is a single
vertex; any maximal matching is 2 disjoint pairs), a star (either the
hub alone or all leaves; matching = exactly one spoke), an even cycle
(alternating set of size n/2 is optimal but ANY maximal independent
set has ≥ n/3 — we assert the invariants plus determinism, not a
particular optimum), and a path. Invariants are checked by brute
enumeration on every fixture: independence + maximality for MIS,
vertex-disjointness + maximality for matching.

Layout-independence: both kernels' priorities are exact integer
arithmetic totally ordered with vid/endpoint tie-breaks, so the
OUTPUT SET must be exactly equal under different input partitionings
— the determinism discipline every round-5 kernel carries (the
linkpred lesson: a single-run match can hide order-dependence).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parrsb_spark.operators.matching import maximal_matching
from parrsb_spark.operators.mis import mis

K4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
PATH5 = [(1, 2), (2, 3), (3, 4), (4, 5)]
STAR = [(0, i) for i in range(1, 20)]
CYCLE6 = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0)]
TWO_TRI = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)]
FIXTURES = [("k4", K4), ("path5", PATH5), ("star", STAR),
            ("cycle6", CYCLE6), ("two_tri", TWO_TRI)]


def _sym(edges):
    return {(a, b) for a, b in edges} | {(b, a) for a, b in edges}


def _mis_sets(df):
    rows = df.collect()
    ins = {r["vid"] for r in rows if r["in_mis"] == 1}
    outs = {r["vid"] for r in rows if r["in_mis"] == 0}
    und = [r for r in rows if r["in_mis"] == -1]
    return rows, ins, outs, und


@pytest.mark.parametrize("name,edges", FIXTURES)
def test_mis_invariants(spark, name, edges):
    e = spark.createDataFrame(edges, "src long, dst long")
    rows, ins, outs, und = _mis_sets(mis(e))
    es = _sym(edges)
    verts = {v for p in edges for v in p}
    assert not und  # converged well inside the default round cap
    assert ins | outs == verts  # total classification
    # independence: no edge inside the set
    assert all(not (a in ins and b in ins) for a, b in es)
    # maximality: every excluded vertex has a set neighbour
    for v in outs:
        assert any(b in ins for a, b in es if a == v)


def test_mis_closed_forms(spark):
    e = spark.createDataFrame(K4, "src long, dst long")
    _, ins, _, _ = _mis_sets(mis(e))
    assert len(ins) == 1  # K4: any MIS is one vertex
    e = spark.createDataFrame(STAR, "src long, dst long")
    _, ins, _, _ = _mis_sets(mis(e))
    assert len(ins) in (1, 19)  # hub alone or all 19 leaves
    e = spark.createDataFrame(PATH5, "src long, dst long")
    _, ins, _, _ = _mis_sets(mis(e))
    assert 2 <= len(ins) <= 3


def _match_pairs(df):
    return {(r["u"], r["v"]) for r in df.collect()}


@pytest.mark.parametrize("name,edges", FIXTURES)
def test_matching_invariants(spark, name, edges):
    e = spark.createDataFrame(edges, "src long, dst long")
    pairs = _match_pairs(maximal_matching(e))
    flat = [v for p in pairs for v in p]
    assert len(flat) == len(set(flat))  # vertex-disjoint
    mset = set(flat)
    # maximal: every edge touches a matched vertex
    for a, b in edges:
        assert a in mset or b in mset
    # canonical orientation
    assert all(u < v for u, v in pairs)


def test_matching_closed_forms(spark):
    e = spark.createDataFrame(K4, "src long, dst long")
    assert len(_match_pairs(maximal_matching(e))) == 2  # perfect on K4
    e = spark.createDataFrame(STAR, "src long, dst long")
    assert len(_match_pairs(maximal_matching(e))) == 1  # one spoke
    e = spark.createDataFrame(CYCLE6, "src long, dst long")
    # any maximal matching of C6 has 2 or 3 edges; this one is determined
    pairs = _match_pairs(maximal_matching(e))
    assert len(pairs) in (2, 3)


def test_layout_independence(spark):
    """Same graph under three partition layouts -> exactly equal
    output sets (the bitwise partition-independence contract)."""
    edges = K4 + TWO_TRI + [(10, 11), (11, 12), (3, 10)]
    base = spark.createDataFrame(edges, "src long, dst long")
    layouts = [
        base,
        base.repartition(7, "dst"),
        base.repartition(1).sortWithinPartitions(F.desc("src")),
    ]
    mis_results = [
        {tuple(r) for r in mis(df).collect()} for df in layouts
    ]
    assert mis_results[0] == mis_results[1] == mis_results[2]
    match_results = [
        {tuple(r) for r in maximal_matching(df).collect()} for df in layouts
    ]
    assert match_results[0] == match_results[1] == match_results[2]


def test_matching_empty_graph(spark):
    e = spark.createDataFrame([], "src long, dst long")
    assert maximal_matching(e).count() == 0


# ---------------------------------------------------------------------------
# driver-local tail replay (local_threshold): bitwise parity with the
# distributed rounds, round numbers included


@pytest.mark.parametrize("name,edges", FIXTURES)
def test_mis_local_tail_bitwise_parity(spark, name, edges):
    e = spark.createDataFrame(edges, "src long, dst long")
    dist = {tuple(r) for r in mis(e).collect()}
    # threshold above every fixture's edge count -> escape fires at
    # round 1 and the WHOLE run replays driver-side
    local = {tuple(r) for r in mis(e, local_threshold=10**9).collect()}
    assert dist == local


def test_mis_local_tail_mid_run_parity(spark):
    # a graph engineered to leave a multi-round tail: a long path (many
    # rounds) hanging off a clique (decided early). The threshold is
    # sized so the first distributed round runs, THEN the escape fires
    # mid-run and must continue with the correct round numbers.
    path = [(100 + i, 101 + i) for i in range(24)]
    clique = [(a, b) for a in range(1, 7) for b in range(a + 1, 7)]
    bridge = [(6, 100)]
    e = spark.createDataFrame(path + clique + bridge, "src long, dst long")
    dist = {tuple(r) for r in mis(e).collect()}
    for thr in (4, 20, 60):
        local = {tuple(r) for r in mis(e, local_threshold=thr).collect()}
        assert dist == local, thr


def test_mis_local_tail_respects_round_cap(spark):
    # max_rounds too small to finish: the replay must stop at the cap
    # and report the same undecided set as the distributed run
    path = [(i, i + 1) for i in range(40)]
    e = spark.createDataFrame(path, "src long, dst long")
    dist = {tuple(r) for r in mis(e, max_rounds=2).collect()}
    local = {tuple(r) for r in mis(e, max_rounds=2, local_threshold=10**9).collect()}
    assert dist == local


def test_mis_local_tail_self_loops_only(spark):
    # no live edge at all: the escape still fires and decides every vertex
    e = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    assert sorted(mis(e, local_threshold=10).collect()) == sorted(mis(e).collect())


def test_mis_local_tail_missing_count_raises(spark, monkeypatch):
    # the per-round live edge count is observed on the round's
    # checkpoint; an observation that reads back empty must raise,
    # never pass as "small enough to collect"
    import importlib

    from pyspark.sql import Observation

    mmod = importlib.import_module("parrsb_spark.operators.mis")

    class Unread(Observation):
        @property
        def get(self):
            return {"n": None}

    monkeypatch.setattr(mmod, "Observation", Unread)
    e = spark.createDataFrame([(i, i + 1) for i in range(40)], "src long, dst long")
    with pytest.raises(RuntimeError, match="not observed"):
        mis(e, local_threshold=1).collect()
