"""Degree assortativity / reciprocity vs closed forms and a brute
Python oracle.

Closed forms hit the extremes: a star is maximally disassortative
(every edge joins the hub to a degree-1 leaf, r = -1), and a regular
graph (K4) has zero degree variance, exercising the NULL guard.
Reciprocity: a DAG gives 0, a symmetrized edge list
fed as directed gives 1, and the mixed fixture an exact fraction.
Determinism: exact integer sums — asserted with == (no tolerance) by
comparing two partitionings.
"""

from __future__ import annotations

import pytest

from parrsb_spark import graphs
from parrsb_spark.operators.graphstats import degree_assortativity, reciprocity


def _brute_assort(edges):
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    pairs = [(deg[u], deg[v]) for u in adj for v in adj[u]]
    m = len(pairs)
    s_x = sum(x for x, _ in pairs)
    s_xy = sum(x * y for x, y in pairs)
    s_xx = sum(x * x for x, _ in pairs)
    var = m * s_xx - s_x * s_x
    r = None if var == 0 else (m * s_xy - s_x * s_x) / var
    return m, s_x, s_xy, s_xx, r


def _row(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


def test_assortativity_star_is_minus_one(spark):
    e = spark.createDataFrame(graphs.star_hub(8), "src long, dst long")
    r = _row(degree_assortativity(e))
    assert r["r"] == pytest.approx(-1.0, abs=1e-12)
    assert r["m"] == 16  # 8 directed pairs both ways


def test_assortativity_regular_graph_is_null(spark):
    # K4: every vertex degree 3 — zero degree variance, r undefined
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    e = spark.createDataFrame(k4, "src long, dst long")
    r = _row(degree_assortativity(e))
    assert r["r"] is None
    assert int(r["s_xx"]) * r["m"] == int(r["s_x"]) ** 2


def test_assortativity_matches_brute_on_powerlaw(spark):
    edges = graphs.powerlaw(60, m=3, seed=11)
    e = spark.createDataFrame(edges, "src long, dst long")
    r = _row(degree_assortativity(e))
    m, s_x, s_xy, s_xx, br = _brute_assort(edges)
    assert (r["m"], int(r["s_x"]), int(r["s_xy"]), int(r["s_xx"])) == (m, s_x, s_xy, s_xx)
    assert r["r"] == pytest.approx(br, abs=1e-12)


def test_assortativity_exact_across_partitionings(spark):
    edges = graphs.powerlaw(50, m=4, seed=3)
    base = spark.createDataFrame(edges, "src long, dst long")
    a = _row(degree_assortativity(base.repartition(1)))
    b = _row(degree_assortativity(base.orderBy("dst").repartition(16)))
    assert tuple(a) == tuple(b)  # bitwise, integers AND the float


def test_reciprocity_dag_zero_sym_one(spark):
    dag = spark.createDataFrame([(i, i + 1) for i in range(9)], "src long, dst long")
    r = _row(reciprocity(dag))
    assert (r["m"], r["recip"], r["r"]) == (9, 0, 0.0)
    both = dag.union(dag.selectExpr("dst AS src", "src AS dst"))
    r2 = _row(reciprocity(both))
    assert (r2["m"], r2["recip"], r2["r"]) == (18, 18, 1.0)


def test_reciprocity_mixed_exact_fraction(spark):
    # 4 directed edges, exactly one mutual pair (0<->1): r = 2/4
    e = spark.createDataFrame(
        [(0, 1), (1, 0), (2, 3), (3, 4), (2, 2)], "src long, dst long"
    )  # self-loop dropped
    r = _row(reciprocity(e))
    assert (r["m"], r["recip"], r["r"]) == (4, 2, 0.5)


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_checked_long_raises_past_int64(spark, ansi):
    """The assortativity query surface's bigint cast raises past int64
    whatever the ANSI setting, and passes in-range values unchanged."""
    from decimal import Decimal

    from parrsb_spark.entry_queries import checked_long

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        big = spark.createDataFrame([(Decimal(2**63),)], "s decimal(38,0)")
        with pytest.raises(Exception, match="outside the bigint range"):
            big.select(checked_long("s")).collect()
        ok = spark.createDataFrame([(Decimal(2**63 - 1),)], "s decimal(38,0)")
        assert ok.select(checked_long("s")).collect()[0]["s"] == 2**63 - 1
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
