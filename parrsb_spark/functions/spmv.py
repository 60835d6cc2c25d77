"""The join-driven sparse gather-scatter (SpMV) — the engine's workhorse.

The reference's entire iterative machinery reduces to one primitive:
rows sharing a global id across ranks combine via add/min/max and the
result is scattered back (gslib ``gs`` — ref call sites
/root/reference/src/laplacian.c:174-175, src/components.c:216,
src/parrsb.c:682). The Spark-native form is one shuffle pair:

    edges ⋈ state on src  →  groupBy(dst).agg(sum/min/max)

Every iterative kernel (PageRank, CC, label propagation, Lanczos SpMV)
is a driver loop over this primitive. Scale notes:
- map-side partial aggregation makes the groupBy skew-tolerant for
  sum/min/max (hub keys combine before the shuffle);
- the join side is skew-handled by AQE skew-join splitting (enabled in
  session.py); for extreme hubs callers can pre-salt via `salted_agg`;
- `functions/loop.spmv_loop` caches `edges` once per solve — it is the
  loop-invariant side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_AGGS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": lambda c: F.count(c),
}


def symmetrize(edges: DataFrame, drop_self_loops: bool = True) -> DataFrame:
    """Directed → undirected edge set (dedup'd both directions).

    Undirected kernels (Fiedler, CC, triangles) run on the symmetrized
    graph; PageRank keeps direction (FIXTURES.md §2).
    """
    e = edges.select("src", "dst")
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    if drop_self_loops:
        sym = sym.filter(F.col("src") != F.col("dst"))
    return sym


def degrees(edges: DataFrame, directed: bool = False) -> DataFrame:
    """(vid, deg) — out-degree if directed, degree of symmetrized graph else."""
    e = edges if directed else symmetrize(edges)
    return e.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))


def gather_scatter(
    edges: DataFrame,
    state: DataFrame,
    agg: str = "sum",
    value_col: str = "x",
    out_col: str = "gx",
) -> DataFrame:
    """gs(state) over the edge set: out[v] = AGG_{u: (u,v) ∈ E} state[u].

    Returns (vid, <out_col>) keyed by destination. Vertices with no
    in-edges are absent — callers outer-join against their vertex set.
    One shuffle pair per call (join + partial-agg'd groupBy), the exact
    analogue of one gslib ``gs()`` round.
    """
    fn = _AGGS[agg]
    return (
        edges.join(state.select(F.col("vid").alias("src"), F.col(value_col)), "src")
        .groupBy(F.col("dst").alias("vid"))
        .agg(fn(value_col).alias(out_col))
    )


def salted_agg(
    df: DataFrame,
    key: str,
    value_col: str,
    agg: str = "sum",
    out_col: str = "agg",
    n_salts: int = 32,
) -> DataFrame:
    """Two-stage aggregation with explicit salting for pathological hubs.

    groupBy(key, salt).agg → groupBy(key).agg. Spark's hash aggregate
    already partially combines map-side, so this is only needed when a
    single post-shuffle key still overwhelms one task (power-law hubs at
    the 100 TB scale — the skew case the reference never handles, see
    SURVEY.md §4 'Skew').
    """
    fn = _AGGS[agg]
    outer = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.sum}[agg]
    salted = df.withColumn("_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)))
    partial = salted.groupBy(key, "_salt").agg(fn(value_col).alias("_partial"))
    return partial.groupBy(key).agg(outer("_partial").alias(out_col))
