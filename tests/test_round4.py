"""Round-4 fixes: byte-gated similarity broadcasts (ann fallback path),
NEIGHBOR_MAP topology option for min_neighbor_distance, conf restoration
on labelprop failure, and PageRank default-armed hub salting. The
spectral/RSB cases live in test_spectral.py."""

import numpy as np
import pytest

from parrsb_spark import graphs
from parrsb_spark.functions.ids import grouped_rank


# ---------------------------------------------------------------------------
# similarity: ann broadcast gate fallback equality (VERDICT r3 wrong #1)


def _fake_embeddings(spark, n=40, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    return spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")


def test_ann_lsh_topk_broadcast_gate_equality(spark):
    from parrsb_spark.operators.similarity import ann_lsh_topk

    emb = _fake_embeddings(spark, n=60, dim=8, seed=11)
    q = emb.limit(5).withColumnRenamed("vec_id", "q_id")
    a = sorted(map(tuple, ann_lsh_topk(emb, q, k=3, broadcast_queries=True).collect()))
    b = sorted(map(tuple, ann_lsh_topk(emb, q, k=3, broadcast_queries=False).collect()))
    assert a == b and len(a) > 0


def test_broadcast_gate_is_byte_aware(spark, monkeypatch):
    """A small-row but wide query set past the MB cap must NOT broadcast."""
    import parrsb_spark.operators.similarity as S

    rows = 10
    dim = 4096
    q = spark.createDataFrame(
        [(i, [0.0] * dim) for i in range(rows)], schema="q_id long, embedding array<double>"
    )
    assert S._should_broadcast_queries(q) is True  # 10 × 32 KB ≈ 330 KB, fine
    # shrink the byte cap (env override, ref parrsb.c:48-77 precedence)
    # so the SAME tiny row count now fails the gate on bytes alone
    monkeypatch.setenv("PARRSB_SPARK_BROADCAST_THRESHOLD_MB", "0")
    assert S._should_broadcast_queries(q) is False


# ---------------------------------------------------------------------------
# fuzzy: NEIGHBOR_MAP topology option (ADVICE r3 low)


def test_min_neighbor_distance_topology_on_degenerate_element(spark):
    """Flat triangle where the 'diagonal' A-C (not a topology edge) is
    shorter than A's topology edge A-B: the default all-pairs min picks
    the diagonal; the topology pass reproduces the reference's
    NEIGHBOR_MAP min exactly."""
    from parrsb_spark.sources.fuzzy import min_neighbor_distance

    pts = spark.createDataFrame(
        [(1, 10, 0.0, 0.0), (1, 11, 10.0, 0.0), (1, 12, 5.0, 0.1)],
        schema="elem long, vid long, x double, y double",
    )
    allp = {r["vid"]: r["dx"] for r in min_neighbor_distance(pts, "elem", ["x", "y"]).collect()}
    assert allp[10] == pytest.approx(5.0**2 + 0.1**2)  # diagonal A-C
    topo = spark.createDataFrame([(10, 11), (11, 12)], schema="vid long, nbr long")
    ref = {
        r["vid"]: r["dx"]
        for r in min_neighbor_distance(pts, "elem", ["x", "y"], topology=topo).collect()
    }
    assert ref[10] == pytest.approx(100.0)  # only edge A-B counts
    assert ref[11] == pytest.approx(5.0**2 + 0.1**2)  # min(B-A, B-C)
    assert ref[12] == pytest.approx(5.0**2 + 0.1**2)


# ---------------------------------------------------------------------------
# pagerank: hub salting armed by default (VERDICT r3 wrong #2)


def test_pagerank_default_salting_no_opts(spark, monkeypatch):
    """With NO opts argument, a hub past salt_degree_threshold (here
    lowered via the PARRSB_SPARK_* env override) must take the salted
    path and produce identical scores; the probe costs zero extra jobs
    (folded into the setup degree aggregation)."""
    from parrsb_spark.operators.pagerank import pagerank

    edges = [(v, u) for u, v in graphs.star_hub(300)]  # leaves → hub
    df = graphs.to_df(spark, edges)
    plain = {r["vid"]: r["pr"] for r in pagerank(df, fixed_iters=5).collect()}
    monkeypatch.setenv("PARRSB_SPARK_SALT_DEGREE_THRESHOLD", "50")
    salted = {r["vid"]: r["pr"] for r in pagerank(df, fixed_iters=5).collect()}
    assert plain.keys() == salted.keys()
    for v in plain:
        assert abs(plain[v] - salted[v]) < 1e-12


# ---------------------------------------------------------------------------
# labelprop: session conf restored even on failure (ADVICE r3 low)


def test_labelprop_restores_conf_on_error(spark):
    from parrsb_spark.operators.labelprop import label_propagation

    before = spark.conf.get("spark.sql.adaptive.enabled")
    edges = graphs.to_df(spark, [(1, 2), (2, 3)])
    # checkpoint_interval=0 raises ZeroDivisionError INSIDE the loop,
    # after iterative_conf has flipped the session conf
    with pytest.raises(ZeroDivisionError):
        label_propagation(edges, n_iter=1, checkpoint_interval=0)
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"


# ---------------------------------------------------------------------------
# grouped_rank: pinned range partitioning (round-4 row-loss regression)


def test_grouped_rank_row_preserving_and_stable(spark):
    """The offsets join consumes the range-partitioned table TWICE; before
    round 4 each side could re-sample DIFFERENT range boundaries (exchange
    reuse is not guaranteed), disagree on _pid, and silently DROP rows —
    measured 463/100k vertices lost at an RSB cut (SUBMIT_SMOKE round 4).
    The pin makes the output (a) row-preserving, (b) a permutation 1..n_g
    per group, (c) bit-identical across materializations."""
    rows = [((i * 7) % 3, float((i * 37) % 101) + 0.25 * (i % 4), i) for i in range(3000)]
    df = spark.createDataFrame(rows, schema="grp long, val double, vid long").repartition(13)
    out = grouped_rank(df, "grp", ["val", "vid"], "rn")
    m1 = {(r["grp"], r["vid"]): r["rn"] for r in out.collect()}
    m2 = {(r["grp"], r["vid"]): r["rn"] for r in out.collect()}  # re-materialize
    assert len(m1) == 3000 and m1 == m2
    sizes = {}
    for (g, _), rn in m1.items():
        sizes.setdefault(g, []).append(rn)
    for g, rns in sizes.items():
        assert sorted(rns) == list(range(1, len(rns) + 1)), f"grp {g} ranks not dense"


def test_grouped_rank_plan_has_no_live_range_exchange(spark):
    """Guard for the pin itself: the returned DF must read a MATERIALIZED
    (checkpointed) table — no rangepartitioning exchange may remain live
    in its plan, else the two join sides can re-sample boundaries
    independently and corrupt the (_pid, grp) join."""
    df = spark.createDataFrame(
        [(0, float(i % 17), i) for i in range(100)], schema="grp long, val double, vid long"
    )
    out = grouped_rank(df, "grp", ["val", "vid"], "rn")
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" not in plan, plan[:400]


# ---------------------------------------------------------------------------
# session conf contract: the measured engine confs must survive refactors


def test_get_spark_sets_measured_engine_confs(spark):
    """Guards the three session confs whose values were each set from a
    measurement (BENCH_SCALING.jsonl / BASELINE.md): the codegen class
    cache raised past one Fiedler solve's ~114 codegen units (default
    100 -> 87-109 Janino recompiles per warm solve, raised -> 0), the
    periodic driver GC that drops stale localCheckpoint blocks, and AQE
    on as the skew-split backstop. A silent revert of any of these
    would not fail a correctness test — only this contract."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 4096
    # r6 re-measure: the 2min cadence fired a full STW System.gc() of the
    # 48g heap INSIDE the later bench kernels (minhash 49.7->34.7s with it
    # moved aside); 10min still bounds stale-block growth on long drives
    assert spark.conf.get("spark.cleaner.periodicGC.interval") == "10min"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
