"""Connected components.

Two independent implementations, mirroring the reference's
dual-implementation cross-validation pattern
(`test_component_versions`, ref /root/reference/src/rsb.c:9-44):

1. `connected_components` — multi-seed min-label propagation, the
   engine's default. Analogue of `get_components_v2`
   (ref /root/reference/src/components.c:160-328), which does gs-MAX
   label rounds until fixpoint; we propagate the MIN vertex id (same
   fixpoint semantics, canonical labels = component-min vid).
   O(diameter) rounds, each round = one gather-scatter.

2. `cc_bfs_single_seed` — sequential per-component BFS frontier
   expansion, analogue of `get_components`
   (ref /root/reference/src/components.c:6-110). Test/QA use only.

Scale notes: min-label rounds are shuffle-bound; for graphs with huge
diameter you'd switch to alternating large-star/small-star — webgraphs
are small-world (diameter ~20) so plain rounds with AQE are the right
default, matching the reference's choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.loop import spmv_loop
from parrsb_spark.functions.spmv import symmetrize
from parrsb_spark.sources.edges import vertices_from_edges


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 200,
    chain: int = 2,
) -> DataFrame:
    """Returns (vid, comp) with comp = min vid of the component (exact).

    `chain` propagation rounds run fused between convergence checks (the
    check compares against the state before the burst: a burst with zero
    movement ⇒ global fixpoint, since min-label updates are monotone)."""
    verts = (vertices or vertices_from_edges(edges)).select("vid")

    def one_round(lbl: DataFrame) -> DataFrame:
        nbr_min = (
            sym.join(lbl.select(F.col("vid").alias("src"), F.col("comp")), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min("comp").alias("nbr"))
        )
        return lbl.join(nbr_min, "vid", "left").select(
            "vid", F.least("comp", F.coalesce("nbr", "comp")).alias("comp")
        )

    # broadcast-off in the loop stops the planner from re-broadcasting
    # the cached edge table every round
    with spmv_loop(symmetrize(edges), "src", auto_broadcast=False) as lp:
        sym = lp.edges
        labels = lp.cache(verts.withColumn("comp", F.col("vid")).repartition(lp.partitions, "vid"))
        done = 0
        while done < max_iter:
            prev = labels
            for _ in range(min(chain, max_iter - done)):
                labels = one_round(labels)
            labels = labels.localCheckpoint(eager=False)  # changed-count materializes
            done += chain
            changed = (
                labels.join(prev.select("vid", F.col("comp").alias("_old")), "vid")
                .filter(F.col("comp") < F.col("_old"))
                .count()
            )
            if changed == 0:
                break
    return labels


def cc_bfs_single_seed(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """Sequential BFS per component (ref get_components semantics):
    seed = globally-min unvisited vid, expand frontier to fixpoint,
    assign component index in discovery order (0-based), repeat."""
    sym = symmetrize(edges).cache()
    verts = (vertices or vertices_from_edges(edges)).select("vid").cache()
    remaining = verts
    out: DataFrame | None = None
    comp_idx = 0
    while True:
        seed_row = remaining.agg(F.min("vid").alias("m")).collect()[0]
        if seed_row["m"] is None:
            break
        seed = seed_row["m"]
        frontier = remaining.filter(F.col("vid") == seed).select("vid")
        visited = frontier
        while True:
            nxt = (
                sym.join(frontier.withColumnRenamed("vid", "src"), "src")
                .select(F.col("dst").alias("vid"))
                .distinct()
                .join(visited, "vid", "left_anti")
                .join(remaining, "vid", "left_semi")
                .localCheckpoint(eager=True)
            )
            if nxt.count() == 0:
                break
            visited = visited.union(nxt).localCheckpoint(eager=True)
            frontier = nxt
        out_piece = visited.withColumn("comp_idx", F.lit(comp_idx))
        out = out_piece if out is None else out.union(out_piece)
        remaining = remaining.join(visited, "vid", "left_anti").localCheckpoint(eager=True)
        comp_idx += 1
    sym.unpersist()
    return out if out is not None else verts.withColumn("comp_idx", F.lit(0))
