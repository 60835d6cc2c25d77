"""Recursive Inertial Bisection (ref /root/reference/src/rib.c:90-111).

Reference: per group, centroid + 3×3 inertia matrix via allreduce, its
principal axis via 100-step serial power iteration
(`get_rib_axis`, ref src/rib.c:6-56, power_serial src/fiedler.c:38-73),
project coords onto the axis, parallel sort, halve, recurse.

Spark-first: one groupBy(part) aggregation yields every group's moment
sums; 3×3 eigendecompositions run in numpy on the driver (the
replicated-tiny-solve pattern); the projection is a broadcast-joined
column expression; the split reuses the shared grouped-halving
range-partitioned rank (operators/rcb.py `_halve_groups`). `inertial_order`
is also the rsb_pre=2 hook (ref src/rsb.c:291).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.operators.rcb import _halve_groups
from parrsb_spark.session import local_frame


def inertial_order(state: DataFrame, active: list) -> DataFrame:
    """Adds `_ord` = centered projection onto each group's principal
    inertia axis (ref get_rib_axis). One groupBy(part) moment aggregate;
    3×3 eigensolves on the driver (one tiny row per group)."""
    spark = state.sparkSession
    moments = {
        r["part"]: r
        for r in (
            state.filter(F.col("part").isin(active))
            .groupBy("part")
            .agg(
                F.count("*").alias("n"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"), F.sum("z").alias("sz"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"),
                F.sum(F.col("x") * F.col("z")).alias("sxz"),
                F.sum(F.col("y") * F.col("y")).alias("syy"),
                F.sum(F.col("y") * F.col("z")).alias("syz"),
                F.sum(F.col("z") * F.col("z")).alias("szz"),
            )
            .collect()
        )
    }
    rows = []
    for g in active:
        if g not in moments:
            continue
        r = moments[g]
        n = r["n"]
        c = np.array([r["sx"], r["sy"], r["sz"]]) / n
        cov = np.array(
            [
                [r["sxx"], r["sxy"], r["sxz"]],
                [r["sxy"], r["syy"], r["syz"]],
                [r["sxz"], r["syz"], r["szz"]],
            ]
        ) / n - np.outer(c, c)
        vals, vecs = np.linalg.eigh(cov)
        a = vecs[:, -1]  # principal (largest-variance) axis
        # deterministic orientation
        nz = np.flatnonzero(np.abs(a) > 1e-12)
        if len(nz) and a[nz[0]] < 0:
            a = -a
        rows.append((g, float(c[0]), float(c[1]), float(c[2]),
                     float(a[0]), float(a[1]), float(a[2])))
    ax = F.broadcast(
        local_frame(
            spark, rows, "part long, cx double, cy double, cz double, ax double, ay double, az double"
        )
    )
    return state.join(ax, "part", "left").withColumn(
        "_ord",
        F.coalesce(
            (F.col("x") - F.col("cx")) * F.col("ax")
            + (F.col("y") - F.col("cy")) * F.col("ay")
            + (F.col("z") - F.col("cz")) * F.col("az"),
            F.lit(0.0),
        ),
    ).drop("cx", "cy", "cz", "ax", "ay", "az")


def rib_partition(coords: DataFrame, k: int, dims: int = 3) -> DataFrame:
    """coords = (vid, x, y, z) → (vid, part), part ∈ [0, k)."""
    spark = coords.sparkSession
    state = coords.withColumn("part", F.lit(0).cast("long")).localCheckpoint(eager=True)
    np_of = {0: k}
    while any(v > 1 for v in np_of.values()):
        active = sorted(g for g, npg in np_of.items() if npg > 1)
        tagged = inertial_order(state, active)
        state, np_of = _halve_groups(tagged, np_of, "_ord")
        state = state.drop("_ord").localCheckpoint(eager=True)
    leaves = sorted(np_of)
    remap = F.broadcast(
        local_frame(spark, [(g, i) for i, g in enumerate(leaves)], "part long, dense long")
    )
    return state.join(remap, "part").select("vid", F.col("dense").alias("part"))
