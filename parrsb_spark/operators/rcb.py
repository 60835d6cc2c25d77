"""Recursive Coordinate Bisection (ref /root/reference/src/rcb.c:74-137).

Reference: log₂(np) rounds; each round finds the widest axis by global
min/max allreduce (`get_axis_len`, ref src/rcb.c:7-37), parallel-sorts
along it, splits the communicator in half.

Spark-first: every round handles ALL groups in one pass —
groupBy(part) min/max extents (one agg), per-group axis pick on the
driver (tiny), one range-partitioned grouped rank split (grouped_rank —
NEVER a partitionBy(part) window, whose whole group would land in one
task; at round 0 that is the entire point set). Used as the RSB
pre-partitioner (default rsb_pre=1, ref src/parrsb.c:38) via
`axis_order`, and standalone.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.ids import grouped_rank
from parrsb_spark.session import local_frame

AXES = ["x", "y", "z"]


def axis_order(state: DataFrame, active: list, dims: int = 3) -> DataFrame:
    """Adds `_ord` = each row's coordinate on its group's widest axis
    (argmax extent per `part` group — ref get_axis_len, src/rcb.c:7-37).
    One groupBy(part) min/max aggregate; the per-group axis pick is a
    driver-side loop over one tiny row per group."""
    spark = state.sparkSession
    axes = AXES[:dims]
    aggs = []
    for a in axes:
        aggs += [F.min(a).alias(f"min_{a}"), F.max(a).alias(f"max_{a}")]
    ext = {
        r["part"]: r
        for r in state.filter(F.col("part").isin(active)).groupBy("part").agg(*aggs).collect()
    }
    axis_rows = []
    for g in active:
        r = ext.get(g)
        if r is None:
            continue
        lens = [(r[f"max_{a}"] or 0.0) - (r[f"min_{a}"] or 0.0) for a in axes]
        axis_rows.append((g, axes[lens.index(max(lens))]))
    axis_df = F.broadcast(local_frame(spark, axis_rows, "part long, axis string"))
    val = F.when(F.col("axis") == "x", F.col("x")).when(F.col("axis") == "y", F.col("y"))
    if dims > 2:
        val = val.otherwise(F.col("z"))
    else:
        val = val.otherwise(F.lit(0.0))
    return (
        state.join(axis_df, "part", "left")
        .withColumn("_ord", F.coalesce(val, F.lit(0.0)))
        .drop("axis")
    )


def _halve_groups(state: DataFrame, np_of: dict[int, int], order_col: str) -> tuple[DataFrame, dict[int, int]]:
    """Split every active group on `order_col` at the reference's
    n0 = ⌈np/2⌉ proportional point; inactive groups pass through.
    The rank is the scale-safe range-partitioned grouped_rank."""
    spark = state.sparkSession
    active = sorted(g for g, npg in np_of.items() if npg > 1)
    sizes = {
        r["part"]: r["n"]
        for r in state.filter(F.col("part").isin(active)).groupBy("part").agg(F.count("*").alias("n")).collect()
    }
    split_rows, new_np = [], {}
    for g in active:
        npg = np_of[g]
        n0 = (npg + 1) // 2
        target0 = math.ceil(sizes.get(g, 0) * n0 / npg)
        split_rows.append((g, target0))
        new_np[g * 2] = n0
        new_np[g * 2 + 1] = npg - n0
    for g, npg in np_of.items():
        if npg <= 1:
            new_np[g * 2] = npg
    splits = F.broadcast(local_frame(spark, split_rows, "part long, target0 long"))
    act = (
        grouped_rank(state.filter(F.col("part").isin(active)), "part", [order_col, "vid"], "rn")
        .join(splits, "part")
        .withColumn(
            "part", F.col("part") * 2 + F.when(F.col("rn") <= F.col("target0"), 0).otherwise(1)
        )
        .drop("rn", "target0")
    )
    inact = state.filter(~F.col("part").isin(active)).withColumn("part", F.col("part") * 2)
    return act.union(inact), new_np


def rcb_partition(coords: DataFrame, k: int, dims: int = 3) -> DataFrame:
    """coords = (vid, x, y, z) → (vid, part), part ∈ [0, k).

    Axis choice per group = argmax extent (ref get_axis_len)."""
    spark = coords.sparkSession
    state = coords.withColumn("part", F.lit(0).cast("long")).localCheckpoint(eager=True)
    np_of = {0: k}
    while any(v > 1 for v in np_of.values()):
        active = sorted(g for g, npg in np_of.items() if npg > 1)
        tagged = axis_order(state, active, dims)
        state, np_of = _halve_groups(tagged, np_of, "_ord")
        state = state.drop("_ord").localCheckpoint(eager=True)
    leaves = sorted(np_of)
    remap = F.broadcast(
        local_frame(spark, [(g, i) for i, g in enumerate(leaves)], "part long, dense long")
    )
    return state.join(remap, "part").select("vid", F.col("dense").alias("part"))
