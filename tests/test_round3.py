"""Round-3 features: scale-safe grouped rank, struct orientation keys,
chunk-salted mirror pairs, wired EngineOptions (partitioner dispatch,
repair, hub salting, broadcast gate), adaptive fuzzy tolerance (C2), and
the ngram small-corpus cap guard. The spectral/RSB cases live in
test_spectral.py."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from parrsb_spark import graphs
from parrsb_spark.config import EngineOptions
from parrsb_spark.functions.ids import grouped_rank
from parrsb_spark.functions.spmv import salted_agg, symmetrize
from parrsb_spark.operators.checks import mirror_pairs
from parrsb_spark.operators.fiedler import fiedler
from parrsb_spark.operators.pagerank import pagerank
from parrsb_spark.operators.partition import partition_graph
from parrsb_spark.operators.rsb import _repair_parts, rsb_partition
from parrsb_spark.operators.stats import edge_cut, partition_sizes
from parrsb_spark.operators.triangles import triangle_total


# ---------------------------------------------------------------------------
# grouped_rank — the scale-safe window replacement


def _h(i):
    import hashlib

    return int.from_bytes(hashlib.md5(str(i).encode()).digest()[:4], "big")


def test_grouped_rank_matches_window_oracle(spark):
    rows = [(i % 5, float(_h(i) % 97), i) for i in range(400)]
    df = spark.createDataFrame(rows, schema="grp long, val double, vid long").repartition(7)
    got = {
        (r["grp"], r["vid"]): r["rn"]
        for r in grouped_rank(df, "grp", ["val", "vid"], "rn").collect()
    }
    w = Window.partitionBy("grp").orderBy("val", "vid")
    exp = {
        (r["grp"], r["vid"]): r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == exp


def test_grouped_rank_partitioning_invariance(spark):
    rows = [(0, float((i * 37) % 101), i) for i in range(200)]
    df = spark.createDataFrame(rows, schema="grp long, val double, vid long")
    a = {r["vid"]: r["rn"] for r in grouped_rank(df.repartition(2), "grp", ["val", "vid"]).collect()}
    b = {r["vid"]: r["rn"] for r in grouped_rank(df.repartition(11), "grp", ["val", "vid"]).collect()}
    assert a == b


def test_no_whole_group_window_in_flagship_plans(spark):
    """The scale-killer guard: every row_number window in the fiedler and
    RSB plans must be partitioned by _pid (a physical range partition),
    never by the bare group column (one task per group = one executor
    sorting the planet at cut 0)."""
    import re

    df = graphs.to_df(spark, graphs.grid2d(4, 3)[0])
    opts = EngineOptions(rsb_max_iter=5, rsb_max_passes=1, rsb_tol=1e-4)
    for plan_df in (fiedler(df, opts=opts), rsb_partition(df, 2, opts=opts)):
        plan = plan_df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "row_number()" in line and "windowspecdefinition" in line:
                assert re.search(r"_pid#\d+", line), f"whole-group window: {line[:200]}"


# ---------------------------------------------------------------------------
# struct orientation keys / triangles beyond 2^32


def test_triangles_huge_vids_exact(spark):
    """The packed deg*2^32+vid key would corrupt the total order at
    vid ≥ 2^32; struct(deg, vid) must not."""
    B = 1 << 33
    # one triangle among huge vids + a pendant to vary degrees, plus one
    # triangle among small vids sharing no vertices
    edges = [
        (B + 1, B + 2), (B + 2, B + 3), (B + 3, B + 1), (B + 1, B + 7),
        (5, 6), (6, 7), (7, 5),
    ]
    assert triangle_total(graphs.to_df(spark, edges)) == 2


def test_triangles_mixed_degree_huge_vids(spark):
    edges, _ = graphs.grid2d(3, 3)
    B = 1 << 34
    shifted = [(u + B, v + B) for u, v in edges] + [(B + 1, B + 5), (B + 5, B + 9)]
    # grid has no triangles; the two diagonals close (1,2,5),(1,4,5),(5,6,9),(5,8,9)
    assert triangle_total(graphs.to_df(spark, shifted)) == 4


# ---------------------------------------------------------------------------
# mirror_pairs — chunk-salted exact wedge counting


def _mirror_oracle(edges, min_shared):
    adj = {}
    und = set()
    for u, v in edges:
        if u != v:
            und.add((u, v))
            und.add((v, u))
    for u, v in und:
        adj.setdefault(u, set()).add(v)
    from collections import Counter

    cnt = Counter()
    for c, nbrs in adj.items():
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                cnt[(ns[i], ns[j])] += 1
    return {(u, v, n) for (u, v), n in cnt.items() if n >= min_shared}


@pytest.mark.parametrize("chunk_size", [4, 1 << 13])
def test_mirror_pairs_matches_oracle(spark, chunk_size):
    """chunk_size=4 forces the multi-chunk salted path on every hub; the
    default leaves s=1 everywhere. Both must be exactly the oracle."""
    edges = graphs.powerlaw(60, m=4)
    df = graphs.to_df(spark, edges)
    got = {
        (r["u"], r["v"], r["shared"])
        for r in mirror_pairs(df, min_shared=2, chunk_size=chunk_size).collect()
    }
    assert got == _mirror_oracle(edges, 2)


def test_mirror_pairs_star_hub_chunked(spark):
    """A star's hub center emits C(n,2) wedges; with chunking every leaf
    pair must still be counted exactly once."""
    edges = graphs.star_hub(40)
    df = graphs.to_df(spark, edges)
    got = {
        (r["u"], r["v"], r["shared"])
        for r in mirror_pairs(df, min_shared=1, chunk_size=8).collect()
    }
    assert got == _mirror_oracle(edges, 1)
    assert len(got) == 40 * 39 // 2


# ---------------------------------------------------------------------------
# wired EngineOptions


def test_salted_agg_matches_plain(spark):
    rows = [(1 if i % 10 else 2, float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, schema="k long, v double").repartition(8)
    got = {r["k"]: r["agg"] for r in salted_agg(df, "k", "v", "sum", "agg").collect()}
    exp = {r["k"]: r["s"] for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    assert got.keys() == exp.keys()
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-6


def test_pagerank_salted_hub_matches_plain(spark):
    """star_hub reversed = one massive in-degree hub; opts with a tiny
    salt_degree_threshold must arm the salted path and change nothing."""
    edges = [(v, u) for u, v in graphs.star_hub(300)]  # leaves → hub
    df = graphs.to_df(spark, edges)
    plain = {r["vid"]: r["pr"] for r in pagerank(df, fixed_iters=5).collect()}
    opts = EngineOptions(salt_degree_threshold=50)
    salted = {r["vid"]: r["pr"] for r in pagerank(df, fixed_iters=5, opts=opts).collect()}
    assert plain.keys() == salted.keys()
    for v in plain:
        assert abs(plain[v] - salted[v]) < 1e-12


def test_partition_graph_dispatch(spark):
    edges, coords = graphs.grid2d(4, 4)
    edf, cdf = graphs.to_df(spark, edges), graphs.coords_to_df(spark, coords)
    for p in ("rsb", "rcb", "rib"):
        opts = EngineOptions(partitioner=p, rsb_max_iter=30, rsb_max_passes=2, rsb_tol=1e-6)
        parts = partition_graph(2, edges=edf, coords=cdf, opts=opts)
        sizes = sorted(r["n"] for r in partition_sizes(parts).collect())
        assert sizes == [8, 8], p
    with pytest.raises(ValueError, match="coords"):
        partition_graph(2, edges=edf, opts=EngineOptions(partitioner="rcb"))
    with pytest.raises(ValueError, match="edge"):
        partition_graph(2, coords=cdf, opts=EngineOptions(partitioner="rsb"))
    with pytest.raises(ValueError, match="partitioner"):
        partition_graph(2, edges=edf, opts=EngineOptions(partitioner="metis"))


def test_engine_options_all_consumed():
    """No dead knobs: every EngineOptions field must be read as an
    ATTRIBUTE somewhere in the package (the round-2 finding was six
    silently-ignored fields; a plain substring test is too weak — it
    passed on a kwarg-name coincidence)."""
    import pathlib
    import re
    from dataclasses import fields

    src = "".join(
        p.read_text()
        for p in pathlib.Path("/root/repo/parrsb_spark").rglob("*.py")
        if p.name != "config.py"
    )
    for f in fields(EngineOptions):
        assert re.search(rf"\.{f.name}\b", src), (
            f"EngineOptions.{f.name} is consumed nowhere"
        )


# ---------------------------------------------------------------------------
# repair


def test_repair_moves_minority_components(spark):
    edges = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4)]
    sym = symmetrize(graphs.to_df(spark, edges))
    state = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (5, 1), (6, 1)], schema="vid long, part long"
    )
    got = {r["vid"]: r["part"] for r in _repair_parts(sym, state, [0, 1]).collect()}
    assert got == {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 1}


def test_component_check_warns_on_disconnected_half(spark):
    """F5 QA probe: one grouped CC pass must flag exactly the parts that
    are internally disconnected (no per-part driver loop)."""
    import warnings

    from parrsb_spark.operators.rsb import _component_check

    edges = graphs.to_df(spark, [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4)])
    bad = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (5, 1), (6, 1)], schema="vid long, part long"
    )
    with pytest.warns(UserWarning, match="part 0 has 2 components"):
        _component_check(edges, bad, cut=0)
    good = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1)], schema="vid long, part long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _component_check(edges, good, cut=0)


def test_rsb_repair_smoke(spark):
    """repair=1 on a graph whose halves come out connected is a no-op."""
    edges = graphs.two_cliques_bridge(6)
    df = graphs.to_df(spark, edges)
    opts = EngineOptions(repair=1, rsb_max_iter=40, rsb_max_passes=5, rsb_tol=1e-8)
    parts = rsb_partition(df, 2, opts=opts)
    assert edge_cut(df, parts) == 1
    assert sorted(r["n"] for r in partition_sizes(parts).collect()) == [6, 6]


# ---------------------------------------------------------------------------
# adaptive fuzzy tolerance (C2)


def test_min_neighbor_distance(spark):
    from parrsb_spark.sources.fuzzy import min_neighbor_distance

    pts = spark.createDataFrame(
        [
            (1, 1, 0.0, 0.0),
            (1, 2, 1.0, 0.0),
            (1, 3, 0.0, 2.0),
            (2, 4, 5.0, 5.0),
            (2, 5, 5.5, 5.0),
        ],
        schema="elem long, vid long, x double, y double",
    )
    got = {r["vid"]: r["dx"] for r in min_neighbor_distance(pts, "elem", ["x", "y"]).collect()}
    assert got == {1: 1.0, 2: 1.0, 3: 4.0, 4: 0.25, 5: 0.25}


def test_fuzzy_adaptive_heterogeneous_density(spark):
    """The C2 case no single absolute tol can solve: coarse-region
    duplicates jittered by 0.05 must merge while fine-region points
    0.01 apart stay distinct. Adaptive rule (ref find_segments,
    con-unique-vertices.c:303-310): gap² ≤ tol²·min(dx_a, dx_b)."""
    from parrsb_spark.sources.fuzzy import fuzzy_vertex_ids, min_neighbor_distance

    rows = []
    # fine chain: 8 points spaced 0.01, element-paired → dx = 1e-4
    for i in range(8):
        rows.append((i // 2 + 1, i + 1, i * 0.01, 0.0))
    # coarse elements with unit spacing → dx = 1; two jittered duplicates
    rows += [
        (10, 20, 10.00, 0.0), (10, 21, 11.00, 0.0),
        (11, 22, 10.05, 0.0), (11, 23, 11.02, 0.0),
    ]
    pts = spark.createDataFrame(rows, schema="elem long, vid long, x double, y double")
    scale = min_neighbor_distance(pts, "elem", ["x", "y"])
    got = {
        r["vid"]: r["gid"]
        for r in fuzzy_vertex_ids(
            pts.select("vid", "x", "y"), ["x", "y"], tol=0.2, scale=scale
        ).collect()
    }
    # coarse duplicates merged to min vid
    assert got[20] == got[22] == 20
    assert got[21] == got[23] == 21
    # fine points all distinct
    fine = [got[i + 1] for i in range(8)]
    assert len(set(fine)) == 8
    # sanity: with ABSOLUTE tol 0.06 the coarse dups merge but the fine
    # chain collapses — the failure mode adaptive mode exists to avoid
    abs_got = {
        r["vid"]: r["gid"]
        for r in fuzzy_vertex_ids(pts.select("vid", "x", "y"), ["x", "y"], tol=0.06).collect()
    }
    assert abs_got[20] == abs_got[22]
    assert len({abs_got[i + 1] for i in range(8)}) == 1


def test_fuzzy_absolute_mode_unchanged(spark):
    """scale=None keeps the round-2 absolute-tol chaining semantics."""
    from parrsb_spark.sources.fuzzy import fuzzy_vertex_ids

    rows = [(1, 0.0, 0.0), (2, 0.05, 0.0), (3, 1.0, 0.0), (4, 1.02, 0.3)]
    pts = spark.createDataFrame(rows, schema="vid long, x double, y double")
    got = {r["vid"]: r["gid"] for r in fuzzy_vertex_ids(pts, ["x", "y"], tol=0.1).collect()}
    assert got[1] == got[2] == 1
    assert got[3] == 3 and got[4] == 4  # y gap 0.3 > tol


# ---------------------------------------------------------------------------
# dedup guards


def test_ngram_cap_guard_tiny_corpus(spark):
    """Two identical docs, default cap: the guard must keep universal
    shingles so the duplicate pair scores 1.0 (round-2 ADVICE)."""
    from parrsb_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(0, "identical text payload"), (1, "identical text payload")],
        schema="doc_id long, text string",
    )
    got = [(r["a"], r["b"], r["jaccard"]) for r in ngram_jaccard_pairs(docs, 0.9).collect()]
    assert got == [(0, 1, 1.0)]


def test_cosine_topk_broadcast_gate_equivalent(spark):
    from parrsb_spark.operators.similarity import cosine_topk

    rows = [(i, [float((i * j) % 7) + 1.0 for j in range(4)]) for i in range(20)]
    emb = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("q_id"), "embedding")
    a = sorted(map(tuple, cosine_topk(emb, q, 3, broadcast_queries=True).collect()))
    b = sorted(map(tuple, cosine_topk(emb, q, 3, broadcast_queries=False).collect()))
    assert a == b
