"""The loop driver (functions/loop.py): conf scope and cache hygiene.

Every driver-loop kernel runs its loop inside `spmv_loop`, which owns
the edge cache, the degree probe and the `iterative_conf` scope. These
tests pin the driver's exit contract — the session conf comes back
unchanged and nothing stays cached — on the failure path and for each
kernel's normal return. `counted_checkpoint`, the driver's round
count, must never read a missing count as "empty/converged".
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parrsb_spark import graphs
from parrsb_spark.config import EngineOptions
from parrsb_spark.functions.loop import counted_checkpoint, spmv_loop
from parrsb_spark.functions.spmv import symmetrize
from parrsb_spark.operators.anf import (
    anf_masks,
    harmonic_centrality_estimates,
    neighborhood_function,
)
from parrsb_spark.operators.betweenness import betweenness, edge_betweenness
from parrsb_spark.operators.bfs import bfs_distances
from parrsb_spark.operators.coloring import greedy_coloring
from parrsb_spark.operators.components import cc_bfs_single_seed, connected_components
from parrsb_spark.operators.coreness import coreness
from parrsb_spark.operators.fiedler import fiedler
from parrsb_spark.operators.hits import hits
from parrsb_spark.operators.katz import katz_centrality
from parrsb_spark.operators.kcore import kcore
from parrsb_spark.operators.labelprop import label_propagation
from parrsb_spark.operators.matching import maximal_matching
from parrsb_spark.operators.mis import mis
from parrsb_spark.operators.pagerank import pagerank, personalized_pagerank
from parrsb_spark.operators.rsb import rsb_partition
from parrsb_spark.operators.scc import (
    bowtie_classes,
    condensation_levels,
    strongly_connected_components,
)
from parrsb_spark.operators.sssp import sssp

# every key iterative_conf can set
LOOP_CONF_KEYS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.constraintPropagation.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
)


def _conf(spark) -> dict:
    out = {}
    for k in LOOP_CONF_KEYS:
        try:
            out[k] = spark.conf.get(k)
        except Exception:
            out[k] = None
    return out


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def powerlaw(spark):
    spark.catalog.clearCache()
    return graphs.to_df(spark, graphs.powerlaw(200, m=3, seed=5))


@pytest.mark.parametrize("auto_broadcast", [True, False])
def test_body_error_restores_conf_and_releases_caches(spark, powerlaw, auto_broadcast):
    before = _conf(spark)
    with pytest.raises(RuntimeError, match="body failed"):
        with spmv_loop(symmetrize(powerlaw), "src", auto_broadcast=auto_broadcast) as lp:
            lp.cache(lp.edges.select("src")).count()
            # the loop scope really was in force when the body failed
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(lp.partitions)
            assert spark.conf.get("spark.sql.constraintPropagation.enabled") == "false"
            raise RuntimeError("body failed")
    assert _conf(spark) == before
    assert _cache_empty(spark)


def test_aqe_kept_only_past_hub_threshold(spark):
    spark.catalog.clearCache()
    star = symmetrize(graphs.to_df(spark, graphs.star_hub(30)))
    for threshold, aqe in ((10, "true"), (1000, "false")):
        opts = EngineOptions(salt_degree_threshold=threshold)
        with spmv_loop(star, "src", opts=opts) as lp:
            assert (lp.stats["rows"], lp.stats["max_degree"]) == (60, 30)
            assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert _cache_empty(spark)


def _seeds(spark):
    return spark.createDataFrame([(1,), (7,)], "vid long")


def _rsb_opts():
    return EngineOptions(rsb_max_iter=5, rsb_max_passes=2, rsb_tol=0.0, verbose=0)


KERNELS = {
    "pagerank": lambda e, s: pagerank(e, fixed_iters=3),
    "pagerank_converge": lambda e, s: pagerank(e, tol=1e-4, max_iter=4),
    "personalized_pagerank": lambda e, s: personalized_pagerank(e, _seeds(s), fixed_iters=3),
    "connected_components": lambda e, s: connected_components(e, max_iter=4),
    "cc_bfs_single_seed": lambda e, s: cc_bfs_single_seed(e),
    "label_propagation": lambda e, s: label_propagation(e, n_iter=2),
    "hits": lambda e, s: hits(e, n_iter=2),
    "katz_centrality": lambda e, s: katz_centrality(e, rounds=3),
    "kcore": lambda e, s: kcore(e, k=3, max_rounds=3),
    "coreness": lambda e, s: coreness(e, max_rounds=3),
    "bfs_distances": lambda e, s: bfs_distances(e, _seeds(s), max_hops=3),
    "sssp": lambda e, s: sssp(
        e.withColumn("w", (F.col("src") + F.col("dst")) % 5 + 1), _seeds(s), max_rounds=3
    ),
    "anf_masks": lambda e, s: anf_masks(e, n_hops=3),
    "neighborhood_function": lambda e, s: neighborhood_function(e, max_hops=3),
    "harmonic_centrality_estimates": lambda e, s: harmonic_centrality_estimates(e, max_hops=3),
    "fiedler": lambda e, s: fiedler(e, opts=_rsb_opts()),
    "rsb_partition": lambda e, s: rsb_partition(e, 2, opts=_rsb_opts()),
    "greedy_coloring_spec": lambda e, s: greedy_coloring(e, max_rounds=3, method="spec"),
    "greedy_coloring_jp": lambda e, s: greedy_coloring(e, max_rounds=3, method="jp"),
    "mis": lambda e, s: mis(e, max_rounds=3),
    "mis_local_tail": lambda e, s: mis(e, max_rounds=4, local_threshold=200),
    "maximal_matching": lambda e, s: maximal_matching(e, max_rounds=3),
    "betweenness": lambda e, s: betweenness(e, _seeds(s), max_hops=3),
    "edge_betweenness": lambda e, s: edge_betweenness(e, _seeds(s), max_hops=3),
    "strongly_connected_components": lambda e, s: strongly_connected_components(e),
    "condensation_levels": lambda e, s: condensation_levels(e),
    "bowtie_classes": lambda e, s: bowtie_classes(e),
}


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_ported_kernel_leaves_nothing_cached(spark, powerlaw, name):
    before = _conf(spark)
    out = KERNELS[name](powerlaw, spark)
    assert _cache_empty(spark), name
    assert _conf(spark) == before
    rows = out if isinstance(out, list) else out.collect()
    assert len(rows) > 0


def test_fiedler_solve_error_restores_conf_and_releases_caches(spark, powerlaw, monkeypatch):
    """A failure inside the Lanczos solve still restores the session
    conf and releases the solve's edge and vertex caches."""
    import importlib

    # the operators package re-exports the fiedler FUNCTION over the
    # submodule name, so a plain `import ... as fmod` binds the function
    fmod = importlib.import_module("parrsb_spark.operators.fiedler")

    def boom(*args, **kwargs):
        raise RuntimeError("lanczos failed")

    monkeypatch.setattr(fmod, "_lanczos_pass", boom)
    before = _conf(spark)
    with pytest.raises(RuntimeError, match="lanczos failed"):
        fiedler(powerlaw, opts=_rsb_opts())
    assert _conf(spark) == before
    assert _cache_empty(spark)


def test_scc_unconverged_restores_conf_and_releases_caches(spark):
    """The forward coloring's unconverged guard raises inside the loop;
    the session conf comes back and neither the edge cache nor the
    round's active-edge cache stays behind."""
    spark.catalog.clearCache()
    cycle = graphs.to_df(spark, graphs.ring(6))  # directed 6-cycle: no trim
    before = _conf(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        strongly_connected_components(cycle, max_iter=1)
    assert _conf(spark) == before
    assert _cache_empty(spark)


def test_counted_checkpoint_missing_observation_raises(spark, monkeypatch):
    """A row count that never comes back raises instead of reading as
    an empty (converged) round."""
    from pyspark.sql import Observation

    class Unread(Observation):
        @property
        def get(self):
            return {}

    monkeypatch.setattr("parrsb_spark.functions.loop.Observation", Unread)
    with pytest.raises(RuntimeError, match="not observed"):
        counted_checkpoint(spark.range(5), changed=F.col("id") > 2)


def test_counted_checkpoint_empty_frame(spark):
    """An empty round reads n == 0 and changed == 0, never None."""
    df = spark.range(10).withColumn("old", F.col("id") % 3)
    for hard in (False, True):
        out, n, changed = counted_checkpoint(df, hard=hard, changed=F.col("old") == 0)
        assert (n, changed, out.count()) == (10, 4, 10)
        out, n, changed = counted_checkpoint(
            df.filter("id < 0"), hard=hard, changed=F.col("old") == 0
        )
        assert (n, changed, out.count()) == (0, 0, 0)
        assert counted_checkpoint(df.filter("id < 0"), hard=hard)[1:] == (0, None)
