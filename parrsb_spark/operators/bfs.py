"""Multi-source BFS hop distances — frontier-driven, join-based.

Crawl-depth analysis on a webgraph: the hop distance from a seed set
(e.g. domain roots, a spam blacklist, a trusted core) to every
reachable page. The reference's single-seed BFS component walk
(`comp_nil`/frontier sweep, ref /root/reference/src/components.c) is
this dataflow with the hop counter discarded; here the counter is the
product and multiple seeds expand concurrently in one pass.

Scale design:
- the (optionally symmetrized) edge set is cached ONCE, hash-
  partitioned on src; each round touches only edges leaving the
  CURRENT frontier — one src-keyed equi-join + one map-side-combinable
  distinct on dst + one anti-join against the settled set. Per-round
  work is O(edges out of the frontier), the textbook frontier-BFS
  bound — NOT the O(E)-every-round Bellman-Ford relaxation shape.
- hub-safe: the per-round reduce is a `distinct` on dst (partial-
  aggregated inside every map task before the shuffle); no windows,
  no per-key funnels — a 10^8-degree hub contributes one row per map
  task to the frontier shuffle.
- each round's new frontier is localCheckpointed eagerly and the
  early-exit count is observed on that same job (no extra job);
  the settled set is a union of ≤ max_hops checkpointed frames, so
  lineage stays flat at any depth.
- early exit when the frontier empties. Settled distances never
  change, so converged rounds are no-ops and the fixed point equals
  running exactly `max_hops` rounds — the contract the unrolled SQL
  oracle replays (same discipline as kcore/CC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.loop import counted_checkpoint, spmv_loop
from parrsb_spark.functions.spmv import symmetrize


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 16,
    directed: bool = False,
) -> DataFrame:
    """Returns (vid, dist) — minimum hop count from the nearest seed,
    for every vertex REACHABLE within `max_hops` hops (unreachable
    vertices are absent; seeds themselves carry dist = 0).

    `seeds` is any DataFrame with a `vid` column; `directed=True`
    follows edges src→dst only (crawl direction), the default expands
    over the symmetrized graph (link neighborhood).
    """
    with spmv_loop(edges if directed else symmetrize(edges), "src") as lp:
        g = lp.edges
        frontier = (
            seeds.select("vid").distinct().withColumn("dist", F.lit(0).cast("long"))
        ).localCheckpoint(eager=True)
        settled = frontier
        for h in range(1, max_hops + 1):
            reached = (
                g.join(frontier.select(F.col("vid").alias("src")), "src")
                .select(F.col("dst").alias("vid"))
                .distinct()
            )
            frontier, n, _ = counted_checkpoint(
                reached.join(settled.select("vid"), "vid", "left_anti")
                .withColumn("dist", F.lit(h).cast("long"))
            )
            if n == 0:
                break
            settled = settled.unionByName(frontier)
    return settled.select("vid", "dist")
