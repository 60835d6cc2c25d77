"""HITS (hubs & authorities) — normalized power iteration, join-driven.

Kleinberg's mutual-reinforcement pair on the DIRECTED edge set:

    a_t(v) = Σ_{u→v} h_{t-1}(u)        then a_t ← a_t / ||a_t||₂
    h_t(u) = Σ_{u→v} a_t(v)            then h_t ← h_t / ||h_t||₂

Same SpMV skeleton as pagerank (SURVEY.md §2 B5 gather-scatter —
ref /root/reference/src/laplacian.c:150-164 is the gs() analogue of
each gather): the authority half-step gathers along edge direction
(groupBy dst), the hub half-step gathers against it (groupBy src).

Scale design (mirrors operators/pagerank.py):
- edges are the loop-invariant side: ONE hash-partitioned cached copy;
  the per-iteration joins exchange only the O(V) state.
- both L2 norms stay ON THE CLUSTER as broadcast one-row aggregates —
  no driver round-trip per iteration; a full iteration is two
  join+groupBy shuffle pairs.
- localCheckpoint per iteration truncates the lineage (mandatory for
  iterative Spark plans, SURVEY.md §7).
- hub skew: the gathers are plain map-side-combinable sums, so a 10⁸
  in-degree vertex partial-aggregates inside each map task; AQE
  skew-join splits the oversized build partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.loop import key_degrees, spmv_loop
from parrsb_spark.sources.edges import vertices_from_edges


def hits(
    edges: DataFrame,
    n_iter: int = 6,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Returns (vid, hub, auth) after exactly `n_iter` normalized
    iterations from h₀ = 1 (oracle-parity mode: fixed count, no
    convergence test — the entry-row contract unrolls the same count).

    Vertices with no in-edges get auth = 0; no out-edges get hub = 0;
    isolated vertices (present in `vertices` only) get both = 0.
    """
    def _normalized_gather(r: DataFrame, value: str, key: str, out: str) -> DataFrame:
        """out[v] = Σ_{edge} r[value] gathered onto `key`, then L2-normalized.

        The norm is a broadcast one-row aggregate over the RAW gather
        (absent vertices contribute 0 to the norm exactly as the SQL
        oracle's LEFT JOIN + coalesce does)."""
        other = "dst" if key == "src" else "src"
        raw = (
            e.join(r.select(F.col("vid").alias(other), F.col(value).alias("_x")), other)
            .groupBy(F.col(key).alias("vid"))
            .agg(F.sum("_x").alias("_raw"))
        )
        nrm = F.broadcast(
            raw.agg(F.sqrt(F.sum(F.col("_raw") * F.col("_raw"))).alias("_nrm"))
        )
        return (
            r.select("vid", "hub", "auth")
            .join(raw, "vid", "left")
            .crossJoin(nrm)
            .select(
                "vid",
                "hub",
                "auth",
                F.when(
                    F.col("_nrm") > 0, F.coalesce("_raw", F.lit(0.0)) / F.col("_nrm")
                )
                .otherwise(F.lit(0.0))
                .alias(out),
            )
        )

    # both gathers can funnel on a hub, so the AQE gate reads the total
    # (in + out) degree
    with spmv_loop(
        edges.select("src", "dst"), "src", probe=lambda lp: key_degrees(lp.edges, "src", "dst")
    ) as lp:
        e = lp.edges
        verts = lp.cache(
            (vertices or vertices_from_edges(e)).select("vid").repartition(lp.partitions, "vid")
        )
        state = verts.select("vid", F.lit(1.0).alias("hub"), F.lit(0.0).alias("auth"))
        for _ in range(n_iter):
            # authority half-step: gather hub along edges onto dst
            state = _normalized_gather(state, "hub", "dst", "_a").select(
                "vid", "hub", F.col("_a").alias("auth")
            )
            # hub half-step: gather the FRESH auth back onto src
            state = _normalized_gather(state, "auth", "src", "_h").select(
                "vid", F.col("_h").alias("hub"), "auth"
            )
            state = state.localCheckpoint(eager=True)
    return state.select("vid", "hub", "auth")
