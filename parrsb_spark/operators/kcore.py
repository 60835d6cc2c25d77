"""k-core — synchronous peeling to a fixed point, join-driven.

The k-core of an undirected simple graph is the maximal subgraph in
which every vertex has degree ≥ k. Synchronous peeling: each round
drops EVERY vertex whose degree within the current survivor set is
< k, simultaneously (the same fixed-point-by-rounds discipline as the
reference's min-label component sweep, ref
/root/reference/src/components.c:122-147 — and like CC, the round
count to converge is small in practice because whole fringes peel at
once). Synchronous rounds are deterministic, so the DuckDB oracle can
unroll the exact same recurrence.

Scale design:
- the symmetrized edge set is cached ONCE, hash-partitioned on src;
  each round is one join-pair (edges ⋈ alive on src ⋈ alive on dst)
  + a map-side-combinable count — two shuffles of O(E_alive).
- the survivor set only SHRINKS, so per-round cost is monotonically
  non-increasing; localCheckpoint each round truncates lineage.
- early exit on a fixed point (survivor count unchanged) — the count
  is observed on the job that materializes the checkpoint, no extra job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.loop import counted_checkpoint, spmv_loop
from parrsb_spark.functions.spmv import symmetrize
from parrsb_spark.sources.edges import vertices_from_edges


def kcore(
    edges: DataFrame,
    k: int,
    max_rounds: int = 16,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Returns (vid, core_deg) — the members of the k-core with their
    degree inside it. Peels synchronously until a fixed point or
    `max_rounds`; because converged rounds are no-ops, the result at a
    fixed point equals the result of running exactly `max_rounds`
    rounds (the contract the unrolled SQL oracle replays).
    """
    alive = (vertices or vertices_from_edges(edges)).select("vid")
    prev_n = None
    deg = None
    with spmv_loop(symmetrize(edges), "src") as lp:
        sym = lp.edges
        for _ in range(max_rounds):
            deg, n, _ = counted_checkpoint(
                sym.join(alive.select(F.col("vid").alias("src")), "src")
                .join(alive.select(F.col("vid").alias("dst")), "dst")
                .groupBy(F.col("src").alias("vid"))
                .agg(F.count("*").alias("core_deg"))
                .filter(F.col("core_deg") >= k)
            )
            alive = deg.select("vid")
            if n == prev_n or n == 0:
                break
            prev_n = n
    if deg is None:  # max_rounds == 0: degenerate, report full degrees ≥ k
        deg = (
            sym.groupBy(F.col("src").alias("vid"))
            .agg(F.count("*").alias("core_deg"))
            .filter(F.col("core_deg") >= k)
        )
    return deg.select("vid", "core_deg")
