"""M1/M3: Fiedler vector, RSB/RCB/RIB partitioning, quality gates."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from parrsb_spark import graphs
from parrsb_spark.config import EngineOptions
from parrsb_spark.operators.contraction import contract_aliases
from parrsb_spark.operators.fiedler import fiedler
from parrsb_spark.operators.rcb import rcb_partition
from parrsb_spark.operators.rib import rib_partition
from parrsb_spark.operators.rsb import rsb_partition
from parrsb_spark.operators.stats import edge_cut, partition_sizes, quality_gate
from tests.oracles import components_np, fiedler_np


def _opts(**kw):
    base = dict(rsb_max_iter=40, rsb_max_passes=5, rsb_tol=1e-8)
    base.update(kw)
    return EngineOptions(**base)


@pytest.mark.parametrize(
    "name,edges",
    [
        ("grid4x3", graphs.grid2d(4, 3)[0]),
        ("two_cliques", graphs.two_cliques_bridge(8)),
        ("path", [(i, i + 1) for i in range(1, 12)]),
    ],
)
def test_fiedler_allclose_1e6(spark, name, edges):
    """FIXTURES.md §4: fiedler allclose 1e-6 after sign orientation.
    Graphs chosen with simple (non-degenerate) λ₂."""
    df = graphs.to_df(spark, edges)
    got = {r["vid"]: r["fiedler"] for r in fiedler(df, opts=_opts()).collect()}
    exp, lam2 = fiedler_np(edges)
    assert set(got) == set(exp)
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-6, (name, v, got[v], exp[v])


@pytest.mark.parametrize(
    "name,edges",
    [
        ("grid4x3", graphs.grid2d(4, 3)[0]),
        ("two_cliques", graphs.two_cliques_bridge(8)),
        ("path", [(i, i + 1) for i in range(1, 12)]),
    ],
)
def test_fiedler_inverse_allclose_1e6(spark, name, edges):
    """D9-D11: rsb_algo='inverse' (inverse power + MG-preconditioned
    projected CG, ref src/fiedler.c:189-321) must reach the same
    eigenvector as the numpy oracle to 1e-6."""
    df = graphs.to_df(spark, edges)
    opts = _opts(rsb_max_iter=40, rsb_max_passes=50, rsb_tol=1e-9, rsb_algo="inverse")
    got = {r["vid"]: r["fiedler"] for r in fiedler(df, opts=opts).collect()}
    exp, _ = fiedler_np(edges)
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-6, (name, v, got[v], exp[v])


def test_mg_vcycle_distributed_matches_numpy(spark):
    """D10/D11: the distributed V-cycle (2 DataFrame levels + numpy tail)
    must reproduce the all-numpy V-cycle bit-for-bit on the same input."""
    import numpy as np

    from parrsb_spark.operators.multigrid import (
        _np_tail_levels,
        _np_vcycle,
        mg_setup,
        mg_vcycle,
    )

    n = 12
    edges = [(i, i + 1) for i in range(1, n)]
    A = np.zeros((n, n))
    for u, v in edges:
        A[u-1, u-1] += 1; A[v-1, v-1] += 1; A[u-1, v-1] -= 1; A[v-1, u-1] -= 1
    off = spark.createDataFrame(
        [(0, u, v, -1.0) for u, v in edges] + [(0, v, u, -1.0) for u, v in edges],
        schema="grp long, r long, c long, v double",
    )
    diag = spark.createDataFrame(
        [(0, i + 1, float(A[i, i])) for i in range(n)], schema="grp long, r long, d double"
    )
    h = mg_setup(off, diag, factor=2, tail_threshold=4)
    assert len(h.levels) >= 2  # genuinely distributed levels
    rng = np.random.default_rng(7)
    rvec = rng.normal(size=n)
    r_df = spark.createDataFrame(
        [(0, i + 1, float(rvec[i])) for i in range(n)], schema="grp long, r long, x double"
    )
    got = {r["r"]: r["z"] for r in mg_vcycle(h, r_df).collect()}
    exp = _np_vcycle(_np_tail_levels(A, 2), rvec)
    assert max(abs(got[i + 1] - exp[i]) for i in range(n)) < 1e-12


def test_inverse_distributed_pcg_matches_numpy(spark):
    """The distributed MG-PCG (mg_tail_threshold forces DataFrame levels)
    must match the serial reference arithmetic after the same number of
    CG steps (mpass=1, miter=3, tol=0 → exactly 3 steps both sides)."""
    import numpy as np

    from parrsb_spark.operators.multigrid import np_inverse_fiedler

    n = 12
    edges = [(i, i + 1) for i in range(1, n)]
    df = graphs.to_df(spark, edges)
    opts = _opts(
        rsb_max_iter=3, rsb_max_passes=1, rsb_tol=0.0,
        rsb_algo="inverse", mg_tail_threshold=4,
    )
    got = {r["vid"]: r["fiedler"] for r in fiedler(df, opts=opts, sign_fix=False).collect()}
    A = np.zeros((n, n))
    for u, v in edges:
        A[u-1, u-1] += 1; A[v-1, v-1] += 1; A[u-1, v-1] -= 1; A[v-1, u-1] -= 1
    z = np.arange(1, n + 1, dtype=float)
    z[: n // 2] += 1000 * n
    z = z - z.mean(); z = z / np.linalg.norm(z)
    exp = np_inverse_fiedler(A, z, 3, 1, 0.0, 2)
    assert max(abs(got[i + 1] - exp[i]) for i in range(n)) < 1e-8


def test_rsb_grid_cuts_optimal(spark):
    """E7 cut-aware boundary tie-break: on symmetric grids the fiedler
    median is tied, and the cut-blind vid tie-break can cost edge-cut;
    with the boundary re-assignment the straight-line optimal cuts are
    achieved (ref balance_partitions boundary moves, src/rsb.c:118-229)."""
    opts = _opts(rsb_max_iter=40, rsb_max_passes=5, rsb_tol=1e-8)
    for (nx, ny), k, optimal in [((4, 4), 2, 4), ((4, 4), 4, 8), ((6, 6), 2, 6)]:
        edges, _ = graphs.grid2d(nx, ny)
        df = graphs.to_df(spark, edges)
        parts = rsb_partition(df, k, opts=opts)
        assert edge_cut(df, parts) <= optimal, (nx, ny, k)
        sizes = sorted(r["n"] for r in partition_sizes(parts).collect())
        assert max(sizes) - min(sizes) <= 1


@pytest.mark.parametrize("factor", [2, 4])
def test_rsb_inverse_cuts_the_bridge(spark, factor):
    """RSB end-to-end on the inverse path at MG factors 2 and 4 — the
    reference's CI matrix (ref .github/workflows/ci.yml:68-95)."""
    edges = graphs.two_cliques_bridge(8)
    df = graphs.to_df(spark, edges)
    opts = _opts(
        rsb_max_iter=40, rsb_max_passes=20, rsb_tol=1e-8,
        rsb_algo="inverse", rsb_mg_factor=factor,
    )
    parts = rsb_partition(df, 2, opts=opts)
    assert edge_cut(df, parts) == 1
    sizes = {r["part"]: r["n"] for r in partition_sizes(parts).collect()}
    assert sorted(sizes.values()) == [8, 8]


def test_rsb_algo_unknown_raises(spark):
    df = graphs.to_df(spark, graphs.grid2d(3, 3)[0])
    with pytest.raises(ValueError, match="rsb_algo"):
        fiedler(df, opts=_opts(rsb_algo="does-not-exist"))


def test_rsb_cuts_the_bridge(spark):
    """Bisection of two cliques + bridge must cut exactly the bridge."""
    edges = graphs.two_cliques_bridge(8)
    df = graphs.to_df(spark, edges)
    parts = rsb_partition(df, 2, opts=_opts())
    assert edge_cut(df, parts) == 1
    sizes = {r["part"]: r["n"] for r in partition_sizes(parts).collect()}
    assert sorted(sizes.values()) == [8, 8]
    # each clique lands in one part
    rows = {r["vid"]: r["part"] for r in parts.collect()}
    assert len({rows[v] for v in range(1, 9)}) == 1
    assert len({rows[v] for v in range(9, 17)}) == 1


def test_rsb_balance_and_gate(spark):
    """Reference quality gate: comm volume after RSB ≤ block partition's
    (genmap --test, ref examples/genmap.c:75-78); sizes within ±1."""
    edges, _ = graphs.grid2d(6, 6)
    df = graphs.to_df(spark, edges)
    for k in (2, 4):
        parts = rsb_partition(df, k, opts=_opts())
        sizes = [r["n"] for r in partition_sizes(parts).collect()]
        assert len(sizes) == k
        assert max(sizes) - min(sizes) <= 1
        gate = quality_gate(df, parts, k)
        assert gate["ok"], gate


def test_rsb_k3_uneven(spark):
    """Non-power-of-two k follows the reference's n0=⌈np/2⌉ halving."""
    edges, _ = graphs.grid2d(5, 4)
    df = graphs.to_df(spark, edges)
    parts = rsb_partition(df, 3, opts=_opts())
    sizes = sorted(r["n"] for r in partition_sizes(parts).collect())
    assert len(sizes) == 3 and sum(sizes) == 20
    assert max(sizes) - min(sizes) <= 4  # proportional split: 10 → 5,5; other 10


def test_rcb_grid(spark):
    edges, coords = graphs.grid2d(8, 8)
    cdf = graphs.coords_to_df(spark, coords)
    parts = rcb_partition(cdf, 4, dims=2)
    sizes = [r["n"] for r in partition_sizes(parts).collect()]
    assert len(sizes) == 4 and max(sizes) - min(sizes) <= 1
    # RCB on a uniform grid = quadrants → cut ≤ 2 straight lines
    edf = graphs.to_df(spark, edges)
    assert edge_cut(edf, parts) <= 16


def test_rib_stretched_grid(spark):
    """RIB's principal axis on a stretched grid = the long axis; the first
    cut must split along it (same as RCB here)."""
    edges, coords = graphs.grid2d(16, 2)
    cdf = graphs.coords_to_df(spark, coords)
    parts = rib_partition(cdf, 2, dims=2)
    sizes = [r["n"] for r in partition_sizes(parts).collect()]
    assert sizes == [16, 16]
    edf = graphs.to_df(spark, edges)
    assert edge_cut(edf, parts) == 2  # one straight cut across the 2-row grid


def test_contract_aliases_wraps_grid(spark):
    """Contracting left≡right columns of a grid (periodic aliasing,
    ref src/con-periodic.c) merges those vertex pairs."""
    edges, aliases = graphs.periodic_alias(4, 3)
    edf = graphs.to_df(spark, edges)
    adf = graphs.to_df(spark, aliases)
    e2, mapping = contract_aliases(edf, adf)
    m = {r["vid"]: r["canon"] for r in mapping.collect()}
    for u, v in aliases:
        assert m[u] == m[v] == min(u, v)
    # contracted graph has 12-3=9 vertices
    vs = {r["src"] for r in e2.collect()} | {r["dst"] for r in e2.collect()}
    assert len(vs) == 9


def test_fiedler_parallelism_invariance(spark):
    """Same fiedler vector (1e-9) under forced repartitioning."""
    edges = graphs.two_cliques_bridge(6)
    df = graphs.to_df(spark, edges)
    a = {r["vid"]: r["fiedler"] for r in fiedler(df, opts=_opts()).collect()}
    b = {r["vid"]: r["fiedler"] for r in fiedler(df.repartition(3), opts=_opts()).collect()}
    for v in a:
        assert abs(a[v] - b[v]) < 1e-9


def test_fiedler_subspace_transition_48x32(spark):
    """REGRESSION (latent since round 1, found round 3): on a 48×32 grid
    the row-major rank init is y-dominated; the y-subspace exhausts at
    Lanczos iter ~15 and the true Fiedler (x-)mode enters at ~1e-7·‖w‖.
    The one-pass identity β² = ‖w‖²−α²−n·μ² zeroed that direction and
    converged to the WRONG eigenvector (the y-mode — unit norm, perfect
    balance, corr 0.0 with the truth). The deferred-normalization
    Lanczos (direct β = ‖u‖ in the same single reduction) must recover
    corr ≈ 1 with the analytic Fiedler vector cos(π(x+½)/48)."""
    import numpy as np

    nx, ny = 48, 32
    df = graphs.to_df(spark, graphs.grid2d(nx, ny)[0])
    opts = EngineOptions(rsb_max_iter=50, rsb_max_passes=1, rsb_tol=1e-7)
    f = {r["vid"]: r["fiedler"] for r in fiedler(df, opts=opts).collect()}
    v = np.array([f[i + 1] for i in range(nx * ny)])
    xs = np.array([i % nx for i in range(nx * ny)])
    true = np.cos(np.pi * (xs + 0.5) / nx)
    true -= true.mean()
    true /= np.linalg.norm(true)
    assert abs(v @ true) > 0.9999



@pytest.mark.parametrize("pre", [1, 2])
def test_rsb_pre_geometric_init(spark, pre):
    """rsb_pre with coords: RCB/RIB-ordered init must reach the same
    quality/balance as the vid-ordered init on the uniform grid."""
    edges, coords = graphs.grid2d(4, 4)
    edf, cdf = graphs.to_df(spark, edges), graphs.coords_to_df(spark, coords)
    opts = EngineOptions(rsb_pre=pre, rsb_max_iter=40, rsb_max_passes=5, rsb_tol=1e-8)
    parts = rsb_partition(edf, 4, opts=opts, coords=cdf)
    sizes = sorted(r["n"] for r in partition_sizes(parts).collect())
    assert sizes == [4, 4, 4, 4]
    assert edge_cut(edf, parts) <= 8



def test_inverse_grammian_distributed_matches_numpy(spark):
    """Distributed grammian Rayleigh–Ritz refinement (rsb_mg_grammian=1,
    ref fiedler.c:250-305) must reproduce the serial reference arithmetic
    step-for-step: mpass=3, miter=3, tol=0 → exactly 3 PCG steps per pass
    and 2 refinements on both sides (same fixed-step protocol as
    test_inverse_distributed_pcg_matches_numpy)."""
    import numpy as np

    from parrsb_spark.operators.multigrid import np_inverse_fiedler

    n = 12
    edges = [(i, i + 1) for i in range(1, n)]
    df = graphs.to_df(spark, edges)
    opts = EngineOptions(
        rsb_max_iter=3, rsb_max_passes=3, rsb_tol=0.0,
        rsb_algo="inverse", rsb_mg_grammian=1, mg_tail_threshold=4,
    )
    got = {r["vid"]: r["fiedler"] for r in fiedler(df, opts=opts, sign_fix=False).collect()}
    A = np.zeros((n, n))
    for u, v in edges:
        A[u - 1, u - 1] += 1
        A[v - 1, v - 1] += 1
        A[u - 1, v - 1] -= 1
        A[v - 1, u - 1] -= 1
    z = np.arange(1, n + 1, dtype=float)
    z[: n // 2] += 1000 * n
    z = z - z.mean()
    z = z / np.linalg.norm(z)
    exp = np_inverse_fiedler(A, z, 3, 3, 0.0, 2, grammian=True)
    exp = exp / np.linalg.norm(exp)
    assert max(abs(got[i + 1] - exp[i]) for i in range(n)) < 1e-8
    # and the refinement genuinely changed the trajectory vs grammian off
    exp_off = np_inverse_fiedler(A, z, 3, 3, 0.0, 2, grammian=False)
    exp_off = exp_off / np.linalg.norm(exp_off)
    assert max(abs(exp[i] - exp_off[i]) for i in range(n)) > 1e-9



def test_inverse_grammian_tail_path_smoke(spark):
    """Grammian flag on the collected numpy-tail path (the default
    mg_tail_threshold route) still cuts the two-clique bridge."""
    edges = graphs.two_cliques_bridge(6)
    df = graphs.to_df(spark, edges)
    opts = EngineOptions(
        rsb_algo="inverse", rsb_mg_grammian=1,
        rsb_max_iter=40, rsb_max_passes=20, rsb_tol=1e-8,
    )
    parts = rsb_partition(df, 2, opts=opts)
    assert edge_cut(df, parts) == 1
    assert sorted(r["n"] for r in partition_sizes(parts).collect()) == [6, 6]



def test_grammian_mixed_degenerate_groups(spark):
    """One group's iterate falls into span(Z) (a 2-vertex path converges
    to its exact Fiedler vector after one pass) while another is still
    live. The dead group must keep its z/basis/M untouched — appending
    its ~zero residual would hand M a ~0 eigenvalue and collapse the
    restart to noise. Both groups must match the serial reference
    arithmetic (np_inverse_fiedler) per group."""
    from parrsb_spark.operators.multigrid import np_inverse_fiedler

    n_b = 12
    edges_a = [(1, 2)]
    edges_b = [(100 + i, 100 + i + 1) for i in range(1, n_b)]
    df = graphs.to_df(spark, edges_a + edges_b)
    membership = spark.createDataFrame(
        [(1, 0), (2, 0)] + [(100 + i, 1) for i in range(1, n_b + 1)],
        schema="vid long, grp long",
    )
    opts = EngineOptions(
        rsb_max_iter=3, rsb_max_passes=4, rsb_tol=0.0,
        rsb_algo="inverse", rsb_mg_grammian=1, mg_tail_threshold=4,
    )
    got = {
        r["vid"]: (r["grp"], r["fiedler"])
        for r in fiedler(df, membership=membership, opts=opts, sign_fix=False).collect()
    }

    def np_group(n, edge_list, base_vid):
        A = np.zeros((n, n))
        for u, v in edge_list:
            i, j = u - base_vid, v - base_vid
            A[i, i] += 1
            A[j, j] += 1
            A[i, j] -= 1
            A[j, i] -= 1
        z = np.arange(1, n + 1, dtype=float)
        z[: n // 2] += 1000 * n
        z = z - z.mean()
        z = z / np.linalg.norm(z)
        out = np_inverse_fiedler(A, z, 3, 4, 0.0, 2, grammian=True)
        return out / np.linalg.norm(out)

    exp_a = np_group(2, edges_a, 1)
    exp_b = np_group(n_b, edges_b, 101)
    for i in range(2):
        assert got[1 + i][0] == 0
        assert abs(got[1 + i][1] - exp_a[i]) < 1e-8
    for i in range(n_b):
        assert got[101 + i][0] == 1
        assert abs(got[101 + i][1] - exp_b[i]) < 1e-8
    # sanity: the tiny group really does produce a valid ±1/√2 split vector
    assert abs(abs(got[1][1]) - 1 / np.sqrt(2)) < 1e-9



def test_group_scalar_broadcast_path_identical_fiedler(spark, monkeypatch):
    """Forcing the broadcast-join scalars path (threshold 0) must produce
    bit-identical Fiedler vectors to the literal-map default, across a
    multi-group membership (covers init, the Lanczos loop, recombine and
    sign fix)."""
    edges, _ = graphs.grid2d(8, 6)
    df = graphs.to_df(spark, edges)
    membership = spark.createDataFrame(
        [(v, v % 3) for v in range(1, 49)], schema="vid long, grp long"
    )
    opts = EngineOptions(rsb_max_iter=30, rsb_max_passes=1, rsb_pre=0)
    lit = {(r["vid"], r["grp"]): r["fiedler"]
           for r in fiedler(df, membership=membership, opts=opts).collect()}
    monkeypatch.setenv("PARRSB_SPARK_GROUP_SCALAR_BROADCAST_THRESHOLD", "0")
    opts_b = EngineOptions(rsb_max_iter=30, rsb_max_passes=1, rsb_pre=0)
    assert opts_b.group_scalar_broadcast_threshold == 0
    bc = {(r["vid"], r["grp"]): r["fiedler"]
          for r in fiedler(df, membership=membership, opts=opts_b).collect()}
    assert lit.keys() == bc.keys()
    for k in lit:
        assert lit[k] == bc[k], k  # same arithmetic, same order → bit-equal



def test_group_scalar_broadcast_path_identical_rsb(spark, monkeypatch):
    """rsb_partition(k=4) end-to-end equality across both scalar paths
    (covers the grouped multi-cut driver and the tie-break band)."""
    from parrsb_spark.operators.rsb import rsb_partition

    edges, _ = graphs.grid2d(8, 4)
    df = graphs.to_df(spark, edges)
    opts = EngineOptions(rsb_max_iter=40, rsb_max_passes=2, rsb_pre=0, verbose=0)
    a = {r["vid"]: r["part"] for r in rsb_partition(df, 4, opts=opts).collect()}
    monkeypatch.setenv("PARRSB_SPARK_GROUP_SCALAR_BROADCAST_THRESHOLD", "0")
    opts_b = EngineOptions(rsb_max_iter=40, rsb_max_passes=2, rsb_pre=0, verbose=0)
    b = {r["vid"]: r["part"] for r in rsb_partition(df, 4, opts=opts_b).collect()}
    assert a == b



def test_rsb_resumable_kill_after_cut1(spark, tmp_path):
    """Interrupt after cut 0 (max_cuts=1 with durable snapshots), then
    resume with the same ckpt_dir: the resumed run must skip cut 0 (its
    snapshot is trusted) and produce the exact part map of an
    uninterrupted run."""
    from parrsb_spark.operators.rsb import rsb_partition, rsb_resumable

    edges, _ = graphs.grid2d(8, 4)
    df = graphs.to_df(spark, edges)
    mkopts = lambda: EngineOptions(rsb_max_iter=40, rsb_max_passes=2, rsb_pre=0, verbose=0)
    full = {r["vid"]: r["part"] for r in rsb_partition(df, 4, opts=mkopts()).collect()}

    d = str(tmp_path / "ck")
    partial = rsb_partition(df, 4, opts=mkopts(), ckpt_dir=d, max_cuts=1)
    assert {r["part"] for r in partial.select("part").distinct().collect()} == {0, 1}
    resumed = {r["vid"]: r["part"] for r in rsb_resumable(df, 4, d, opts=mkopts()).collect()}
    assert resumed == full
    # the resume really started past cut 0: lineage holds cuts 0 and 1
    from parrsb_spark.plans.lineage import LineageLog

    lin = LineageLog(spark, d).read()
    iters = sorted(r["iteration"] for r in lin.select("iteration").distinct().collect())
    assert iters == [0, 1]
    # and a third run over a COMPLETE checkpoint tree is a pure replay
    again = {r["vid"]: r["part"] for r in rsb_resumable(df, 4, d, opts=mkopts()).collect()}
    assert again == full



def _tied_fixture(spark, n_groups):
    """n_groups groups of 4 vertices each, fiedler = [0,1,1,2] → the
    boundary pair (ranks 2,3) ties in EVERY group. Edges make the
    cut-aware score decisive: v1–v3 (fixed half 1) and v2–v0 (fixed
    half 0), so the tie-break must flip the vid-order default and put
    v2, not v1, into half 0."""
    rows, erows = [], []
    for g in range(n_groups):
        b = g * 10
        for i, (f, rn) in enumerate([(0.0, 1), (1.0, 2), (1.0, 3), (2.0, 4)]):
            rows.append((g, b + i, f, rn, 2))
        erows += [(b + 1, b + 3), (b + 3, b + 1), (b + 2, b + 0), (b + 0, b + 2)]
    ranked = spark.createDataFrame(
        rows, schema="grp long, vid long, fiedler double, rn long, target0 long"
    )
    sym = spark.createDataFrame(erows, schema="src long, dst long")
    assigned = ranked.select(
        "vid", "grp", "fiedler", "rn",
        F.when(F.col("rn") <= F.col("target0"), 0).otherwise(1).alias("half"),
    )
    return sym, ranked, assigned



def test_tie_break_broadcast_path_matches_literal(spark):
    """64 groups ALL tied at the boundary: the broadcast scalar path
    (threshold=1) must keep every untied row (how='left' — an inner
    join would drop them) and produce the identical assignment to the
    literal-map path."""
    from parrsb_spark.operators.rsb import _tie_break_boundary

    sym, ranked, assigned = _tied_fixture(spark, 64)
    out = {}
    for name, thr in (("literal", 10**6), ("broadcast", 1)):
        res = _tie_break_boundary(sym, ranked, assigned, threshold=thr)
        out[name] = sorted(
            (r["grp"], r["vid"], r["half"]) for r in res.collect()
        )
    assert out["literal"] == out["broadcast"]
    assert len(out["broadcast"]) == 64 * 4  # no rows lost to the inner join
    by_gv = {(g, v): h for g, v, h in out["broadcast"]}
    for g in (0, 17, 63):
        b = g * 10
        # score-aware pick: v2 (neighbor fixed in half 0) wins the quota
        assert by_gv[(g, b + 2)] == 0 and by_gv[(g, b + 1)] == 1
        assert by_gv[(g, b + 0)] == 0 and by_gv[(g, b + 3)] == 1



def test_rsb_broadcast_scalars_end_to_end_identical(spark):
    """rsb_partition with group_scalar_broadcast_threshold=1 (every
    per-group scalar rides the broadcast join, including the tie-break's)
    must emit the identical part map to the literal-map default on a
    symmetric grid — the graph family that actually ties at boundaries."""
    from parrsb_spark.config import EngineOptions
    from parrsb_spark.operators.rsb import rsb_partition

    df = graphs.to_df(spark, graphs.grid2d(6, 4)[0])
    base = EngineOptions(rsb_max_iter=20, rsb_max_passes=2, rsb_tol=1e-5)
    bcast = EngineOptions(
        rsb_max_iter=20, rsb_max_passes=2, rsb_tol=1e-5,
        group_scalar_broadcast_threshold=1,
    )
    lit_map = {r["vid"]: r["part"] for r in rsb_partition(df, 4, opts=base).collect()}
    bc_map = {r["vid"]: r["part"] for r in rsb_partition(df, 4, opts=bcast).collect()}
    assert lit_map == bc_map



def test_cg_two_collects_per_iteration(spark, monkeypatch):
    """The PCG loop pays exactly TWO _group_scalars reductions per
    iteration — the two CG fundamentally needs (alpha's p·Lp, beta's
    r·z) — with ‖r‖², the ortho mean, and the Polak–Ribière terms fused
    into them. The FINAL fixed-step iteration pays only the alpha
    aggregate: the beta aggregate (like its V-cycle) only prepares a
    next direction that no longer exists. Fixed-step protocol (tol=0 →
    no early break) makes the count deterministic:
      1 (fused setup rr/mu/rz)
    + 2·miter − 1 (alpha agg per iteration + beta agg per non-final one)
    + 2 (outer update: ortho mean + norm)
    + 1 (final output norm)
    """
    import importlib

    # the operators package re-exports the fiedler FUNCTION over the
    # submodule name, so a plain `import ... as fmod` binds the function
    fmod = importlib.import_module("parrsb_spark.operators.fiedler")
    from parrsb_spark.config import EngineOptions

    fiedler = fmod.fiedler

    calls = []
    orig = fmod._group_scalars

    def counting(df, exprs):
        calls.append(sorted(exprs))
        return orig(df, exprs)

    monkeypatch.setattr(fmod, "_group_scalars", counting)
    df = graphs.to_df(spark, [(i, i + 1) for i in range(1, 12)])
    miter = 4
    opts = EngineOptions(
        rsb_max_iter=miter, rsb_max_passes=1, rsb_tol=0.0,
        rsb_algo="inverse", mg_tail_threshold=4,
    )
    fiedler(df, opts=opts).count()
    assert len(calls) == 1 + (2 * miter - 1) + 2 + 1, calls

