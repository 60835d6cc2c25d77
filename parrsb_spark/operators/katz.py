"""Katz centrality — truncated walk-count polynomial, exact integers.

Katz (Psychometrika 1953): c(v) = Σ_{k≥1} α^k · w_k(v), where w_k(v)
counts walks of length k ending at v and α < 1/λ_max. The round-R
truncation used here writes the score as a POLYNOMIAL IN α WITH EXACT
INTEGER COEFFICIENTS: each w_k is an iterated integer gather
(w_k(v) = Σ_{u→v} w_{k-1}(u)) carried in decimal(38,0) — exact sums,
map-side combinable, the graphstats overflow discipline (int64 dies
at hub-degree^k ≈ 1e19; 38 digits hold degree ≤ ~2·10^6 at k = 6,
document a per-round rescale for graphs past that). The float enters
ONCE per round, in a fixed per-vertex scalar accumulation
katz' = katz + α^k·w_k — no shuffled float sum anywhere, so the row
is BITWISE deterministic without the round-8 gate the
pagerank/hits/ppr oracles need (their recursive forms can't avoid
shuffled float sums; this one can, a determinism upgrade unique to
the truncated-polynomial formulation). Same fixed-point-by-rounds
discipline as the reference's min-label component sweep (ref
/root/reference/src/components.c:122-147); the gather is the B5
gather-scatter shape (ref /root/reference/src/parrsb.c:563-615
frontier update frame).

Scale design: per round ONE edge⋈state join + ONE combinable
decimal-sum groupBy + a keyed state join — the pagerank plan shape
with exact coefficients; state on one side of every join (linear
origin-stats growth), `localCheckpoint` per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.loop import spmv_loop
from parrsb_spark.functions.spmv import symmetrize
from parrsb_spark.sources.edges import vertices_from_edges


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.01,
    rounds: int = 6,
    directed: bool = False,
) -> DataFrame:
    """Returns (vid, katz) — the round-`rounds` truncation of the Katz
    series over the (symmetrized unless `directed`) graph. Exact
    contract: katz = Σ_{k=1..R} α^k · w_k(v) evaluated in ascending-k
    order with IEEE doubles over exact integer w_k — bitwise
    partition-independent and replayed verbatim by the SQL oracle."""
    with spmv_loop(edges.select("src", "dst") if directed else symmetrize(edges), "src") as lp:
        e = lp.edges
        st = (
            vertices_from_edges(edges)
            .select(
                "vid",
                F.lit(1).cast("decimal(38,0)").alias("w"),
                F.lit(0.0).alias("katz"),
            )
            .localCheckpoint(eager=True)
        )
        for k in range(1, rounds + 1):
            g = (
                e.join(st.select(F.col("vid").alias("src"), "w"), "src")
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.sum("w").cast("decimal(38,0)").alias("wn"))
            )
            coef = alpha ** k
            st = (
                st.join(g, "vid", "left")
                .select(
                    "vid",
                    F.coalesce("wn", F.lit(0).cast("decimal(38,0)")).alias("w"),
                    (
                        F.col("katz")
                        + F.lit(coef) * F.coalesce("wn", F.lit(0).cast("decimal(38,0)")).cast("double")
                    ).alias("katz"),
                )
                .localCheckpoint(eager=True)
            )
    return st.select("vid", "katz")
