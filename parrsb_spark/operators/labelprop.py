"""Community label propagation — synchronous, deterministic.

The reference's greedy solid/fluid co-partitioner drives the same
dataflow: per-element MAJORITY VOTE of neighbor targets
(`update_frontier`, ref /root/reference/src/parrsb.c:563-615: counts
per candidate, picks the most frequent). Our deterministic tie-break:
highest count first, then smallest label — fully reproducible, so the
SQL oracle can replay it exactly.

Each round: gather neighbor labels (one shuffle), count per (vid,
label), argmax via a map-side-combinable `groupBy(vid).max(struct)`
pick. NOT a `row_number().over(partitionBy(vid))` window: the per-vid
row count equals the number of distinct neighbor labels (≤ degree), so
at iteration 0 a 10⁸-degree hub would funnel 10⁸ count rows through ONE
window task — and AQE's skew split cannot divide a window key. The
struct-max aggregate partial-aggregates inside each map task instead
(same hub-safe shape as pagerank's salted_agg and CC's min-agg).
Synchronous update (all vertices move together) for determinism; fixed
round count for oracle parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.loop import spmv_loop
from parrsb_spark.functions.spmv import symmetrize
from parrsb_spark.sources.edges import vertices_from_edges


def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
    vertices: DataFrame | None = None,
    checkpoint_interval: int = 4,
) -> DataFrame:
    """Returns (vid, label) after n_iter synchronous rounds (labels init = vid)."""
    verts = (vertices or vertices_from_edges(edges)).select("vid")
    labels = verts.withColumn("label", F.col("vid"))
    with spmv_loop(symmetrize(edges), "src") as lp:
        sym = lp.edges
        for it in range(n_iter):
            nbr = sym.join(labels.select(F.col("vid").alias("src"), "label"), "src").select(
                F.col("dst").alias("vid"), "label"
            )
            counts = nbr.groupBy("vid", "label").agg(F.count("*").alias("cnt"))
            # deterministic argmax — count desc, label asc — as a struct
            # max: (cnt, −label) orders field-by-field, so the max is the
            # highest count, smallest label. Map-side combinable (a hub's
            # count rows reduce inside every task), unlike a window pick.
            pick = counts.groupBy("vid").agg(
                F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("_nl"))).alias("m")
            ).select("vid", (-F.col("m._nl")).alias("new_label"))
            labels = labels.join(pick, "vid", "left").select(
                "vid", F.coalesce("new_label", "label").alias("label")
            )
            if (it + 1) % checkpoint_interval == 0:
                labels = labels.localCheckpoint(eager=True)
    return labels
