"""k-truss — synchronous support peeling to a fixed point, the
standard cohesive-subgraph decomposition one level up from k-core
(Cohen, "Trusses: cohesive subgraphs for social network analysis",
NSA TR 2008; Wang & Cheng, VLDB 2012): the k-truss is the maximal
subgraph in which every edge closes ≥ k−2 triangles WITHIN the
subgraph. Communities survive (their edges reinforce each other);
bridges and hub spokes peel even when k-core keeps them — which is
why webgraph community pipelines run truss after core.

Same fixed-point-by-rounds discipline as `kcore.py` (and the
reference's min-label component sweep, ref
/root/reference/src/components.c:122-147), lifted from vertex degrees
to edge supports: each round recomputes every surviving edge's
support inside the current subgraph and drops ALL under-supported
edges simultaneously. Synchronous rounds are deterministic — every
quantity is an exact integer count — so the DuckDB oracle unrolls the
identical recurrence and converged rounds are no-ops (the survivor
set only shrinks).

Scale design:
- per-round support counting is the degree-oriented triangle
  enumeration of `triangles.triangle_list` (each triangle found
  exactly once from its lowest-degree corner, so a hub's wedge
  expansion is bounded by its oriented out-degree — the skew analysis
  in triangles.py), followed by a 3-way edge explode + ONE
  map-side-combinable count keyed on the canonical edge pair. Pair
  keys spread hubs: a degree-d hub's support rows land on d distinct
  (hub, x) keys, not one.
- the survivor set only shrinks, so per-round cost is monotonically
  non-increasing; `localCheckpoint` each round truncates lineage
  (the iterative-kernel discipline shared by kcore/CC/SCC).
- early exit on a fixed point — the survivor count is observed on the
  job that materializes the checkpoint, no extra job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.loop import counted_checkpoint
from parrsb_spark.functions.spmv import symmetrize
from parrsb_spark.operators.triangles import triangle_list


def _edge_support(alive: DataFrame) -> DataFrame:
    """(u, v, support) — exact per-edge triangle count within the
    canonical (u < v) edge set `alive`. Edges in no triangle get 0."""
    tri = triangle_list(
        alive.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    # each triangle {a,b,c} supports its three edges; triangle_list
    # orients corners by degree, so re-canonicalize each pair
    sides = None
    for x, y in (("u", "v"), ("u", "w"), ("v", "w")):
        s = tri.select(
            F.least(x, y).alias("u"), F.greatest(x, y).alias("v")
        )
        sides = s if sides is None else sides.unionAll(s)
    sup = sides.groupBy("u", "v").agg(F.count("*").alias("support"))
    return alive.join(sup, ["u", "v"], "left").select(
        "u", "v", F.coalesce("support", F.lit(0)).alias("support")
    )


def truss(edges: DataFrame, k: int, max_rounds: int = 16) -> DataFrame:
    """Returns (u, v, support) — the edges of the k-truss (canonical
    u < v) with their support inside it. Peels synchronously until a
    fixed point or `max_rounds`; at the fixed point every reported
    support is ≥ k−2 and exact within the output subgraph. k ≥ 3
    (k = 2 keeps every edge and the loop exits on round one)."""
    need = k - 2
    alive, n, _ = counted_checkpoint(
        symmetrize(edges)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    for _ in range(max_rounds):
        if n == 0:
            break
        alive, n2, _ = counted_checkpoint(
            _edge_support(alive).filter(F.col("support") >= need).select("u", "v")
        )
        if n2 == n:
            break
        n = n2
    return _edge_support(alive)
