"""Weighted shortest-path distances — frontier Bellman-Ford.

The weighted generalization of `operators/bfs.py`: link-distance with
per-edge costs (crawl priority from a trusted core, weighted-hop spam
distance, toll-aware routing on a site graph). The reference's frontier
sweep (`get_components`, ref /root/reference/src/components.c:6-110) is
again the dataflow skeleton; here the frontier carries a tentative
distance and a vertex RE-ENTERS the frontier whenever a shorter path
improves it (delta-pruned Bellman-Ford), so after r rounds the settled
table equals EXACTLY the best distance over paths of ≤ r edges — the
contract the unrolled SQL oracle replays round for round.

Scale design (same discipline as bfs.py):
- the weighted edge set is cached ONCE, hash-partitioned on src; each
  round relaxes only edges leaving vertices IMPROVED last round — one
  src-keyed equi-join + one map-side-combinable min-groupBy on dst +
  one left join against the settled table. Positive weights guarantee
  every vertex improves finitely often, so total work is bounded by
  the classic delta-pruning bound, not rounds × |E|.
- hub-safe: the per-round reduce is `groupBy(dst).min(dist)` —
  partial-aggregated inside every map task before the shuffle; no
  windows, no per-key funnels.
- each round's improvement set is localCheckpointed eagerly; the
  early-exit count rides that same materialization. The settled table
  is rewritten per round (anti-join + union) and checkpointed, so
  lineage stays flat at any depth.
- early exit when no vertex improves: converged rounds are no-ops and
  the fixed point equals running exactly `max_rounds` rounds — the
  fixed-point-by-rounds parity the DuckDB oracle unrolls verbatim
  (same discipline as kcore/CC/BFS).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.loop import spmv_loop

_FLOATS = {"double", "float"}


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    weight_col: str = "w",
    max_rounds: int = 32,
    directed: bool = False,
) -> DataFrame:
    """Returns (vid, dist) — minimum path weight from the nearest seed,
    for every vertex whose best ≤`max_rounds`-edge path exists (others
    absent; seeds carry dist = 0). Weights must be positive; integral
    weight columns keep `dist` exact (long), float weights yield
    double. `directed=True` relaxes src→dst only; the default expands
    both directions (parallel reverse edges need no dedup — the min
    reduce absorbs multigraph duplicates).
    """
    e = edges.select("src", "dst", F.col(weight_col).alias("w"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    dtype = "double" if dict(e.dtypes)["w"] in _FLOATS else "long"
    with spmv_loop(e.filter(F.col("src") != F.col("dst")), "src") as lp:
        g = lp.edges
        dist = (
            seeds.select("vid").distinct().withColumn("dist", F.lit(0).cast(dtype))
        ).localCheckpoint(eager=True)
        frontier = dist
        for _ in range(max_rounds):
            cand = (
                g.join(frontier.select(F.col("vid").alias("src"), "dist"), "src")
                .select(F.col("dst").alias("vid"), (F.col("dist") + F.col("w")).alias("nd"))
                .groupBy("vid")
                .agg(F.min("nd").alias("nd"))
            )
            improved = (
                cand.join(dist, "vid", "left")
                .filter(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
                .select("vid", F.col("nd").alias("dist"))
                .localCheckpoint(eager=True)
            )
            if improved.count() == 0:
                break
            frontier = improved
            dist = (
                dist.join(improved, "vid", "left_anti")
                .unionByName(improved)
                .localCheckpoint(eager=True)
            )
    return dist.select("vid", "dist")
