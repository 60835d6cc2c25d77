"""Tagged (grouped) partitioning + greedy co-partitioning.

E8 — `parrsb_part_mesh_v1` (ref /root/reference/src/parrsb.c:379-561):
distinct tags are densely renumbered and RSB runs INDEPENDENTLY per tag
group, local part ids mapped to a global id space. The Spark form falls
out of the grouped Lanczos design for free: seed the group column with
the dense tag id instead of 0 — every tag partitions concurrently in
the same DataFrame loop (the reference routes each tag to a process
block; we never need to).

E10 — `parrsb_part_solid` (ref /root/reference/src/parrsb.c:617-851):
greedily attach unassigned ("solid") vertices to an existing partition
map by BFS majority vote with per-partition quotas: rounds of
gather-majority (mode with deterministic tie-break), hop-ordered
greedy acceptance capped at quota — the label-propagation skeleton.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parrsb_spark.config import EngineOptions, default_options
from parrsb_spark.functions.ids import dense_ids_scalable
from parrsb_spark.functions.spmv import symmetrize
from parrsb_spark.session import local_frame


def rsb_partition_tagged(
    edges: DataFrame,
    tags: DataFrame,
    parts_per_tag: int,
    opts: EngineOptions | None = None,
) -> DataFrame:
    """tags = (vid, tag). Returns (vid, part) with part globally unique:
    part = dense_tag_index * parts_per_tag + local_part (the reference's
    local→global mapping, ref src/parrsb.c:528-541)."""
    from parrsb_spark.operators.rsb import rsb_partition

    spark = edges.sparkSession
    dense = tags.select("tag").distinct().orderBy("tag").collect()
    tag_idx = {r["tag"]: i for i, r in enumerate(dense)}
    tag_type = tags.schema["tag"].dataType.simpleString()
    mapping = F.broadcast(
        local_frame(spark, list(tag_idx.items()), f"tag {tag_type}, tidx long")
    )
    seed = tags.join(mapping, "tag").select("vid", F.col("tidx").alias("part"))
    # Every tag rides the SAME grouped-Lanczos loop concurrently: the seed
    # group column makes fiedler() treat each tag as an independent
    # block-diagonal subgraph (cross-tag edges are dropped inside fiedler),
    # and the number of Spark stages per cut is constant in the tag count.
    # Leaf remap inside rsb_partition yields part = tidx * parts_per_tag +
    # local (the reference's local→global mapping, ref src/parrsb.c:528-541).
    return rsb_partition(edges, parts_per_tag, opts=opts, seed_parts=seed)


def check_tagged_partitions(edges: DataFrame, tags: DataFrame) -> DataFrame:
    """E9 invariant (ref parrsb_check_tagged_partitions, src/parrsb.c:292-377):
    layers (tags) must have IDENTICAL connectivity footprints. The
    reference ranks elements within each layer (input sorted by element
    id, asserted at :298-316), computes each vertex slot's within-layer
    multiplicity via a layer-local gs handle (:340-348), then gs-min/max
    across layers at the same within-layer rank and asserts min == max
    (:352-367).

    Graph analogue: rank vertices within each tag by vid (the sortedness
    precondition — layered inputs align positionally), compute each
    vertex's INTRA-tag degree (the within-layer multiplicity), and
    compare min/max degree across tags at every rank. Returns
    (rank, min_deg, max_deg, n_layers) rows where the invariant FAILS
    (degree mismatch, or a rank missing from some layer because layer
    sizes differ) — empty DataFrame = invariant holds."""
    t = tags.select("vid", "tag")
    ntags = t.select("tag").distinct().count()
    # within-tag rank, distributed (comm_scan analogue — no global window)
    ranked = dense_ids_scalable(t, key_col=["tag", "vid"], out_col="_g")
    offs = ranked.groupBy("tag").agg(F.min("_g").alias("_off"))
    within = ranked.join(offs, "tag").select(
        "tag", "vid", (F.col("_g") - F.col("_off") + 1).alias("rank")
    )
    # intra-tag degree = within-layer vertex multiplicity
    sym = symmetrize(edges)
    intra_deg = (
        sym.join(t.withColumnRenamed("vid", "src").withColumnRenamed("tag", "tag1"), "src")
        .join(t.withColumnRenamed("vid", "dst").withColumnRenamed("tag", "tag2"), "dst")
        .filter(F.col("tag1") == F.col("tag2"))
        .groupBy(F.col("src").alias("vid"), F.col("tag1").alias("tag"))
        .agg(F.count("*").alias("deg"))
    )
    per_vertex = within.join(intra_deg, ["vid", "tag"], "left").select(
        "rank", F.coalesce("deg", F.lit(0)).alias("deg")
    )
    per_rank = per_vertex.groupBy("rank").agg(
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
        F.count("*").alias("n_layers"),
    )
    return per_rank.filter(
        (F.col("min_deg") != F.col("max_deg")) | (F.col("n_layers") != F.lit(ntags))
    )


def assign_solid_to_parts(
    edges: DataFrame,
    fluid_parts: DataFrame,
    solid: DataFrame,
    max_rounds: int = 50,
) -> DataFrame:
    """Greedy quota-capped BFS attachment (ref parrsb_part_solid).

    fluid_parts = (vid, part) already partitioned; solid = (vid) to attach.
    Per round: unassigned solids adjacent to assigned vertices vote for the
    majority neighbor partition (ties → smallest part id — deterministic
    analogue of the reference's vote count, src/parrsb.c:592-607); rounds
    repeat until all reachable solids are assigned (quota = ⌈n_solid/np⌉
    per round batch, hop-ordered, ref :815-825)."""
    spark = edges.sparkSession
    sym = symmetrize(edges).cache()
    n_parts = fluid_parts.select("part").distinct().count()
    n_solid = solid.count()
    quota = math.ceil(n_solid / max(n_parts, 1)) if n_solid else 0
    assigned = fluid_parts.select("vid", "part").localCheckpoint(eager=True)
    remaining = solid.select("vid").join(assigned, "vid", "left_anti").localCheckpoint(eager=True)
    taken = {r["part"]: 0 for r in fluid_parts.select("part").distinct().collect()}

    for _ in range(max_rounds):
        if remaining.isEmpty():
            break
        votes = (
            sym.join(assigned.withColumnRenamed("vid", "src"), "src")
            .select(F.col("dst").alias("vid"), "part")
            .join(remaining, "vid", "left_semi")
            .groupBy("vid", "part")
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy("vid").orderBy(F.desc("cnt"), F.asc("part"))
        pick = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        # quota: accept up to (quota - taken) per part, best-connected first.
        # grouped_rank, not a partitionBy(part) window: a part's frontier can
        # be arbitrarily large at scale (the per-vid vote window above is
        # fine — its groups are single-vertex vote lists).
        cap_rows = [(p, max(quota - taken.get(p, 0), 0)) for p in taken]
        caps = F.broadcast(local_frame(spark, cap_rows, "part long, cap long"))
        from parrsb_spark.functions.ids import grouped_rank

        accepted = (
            grouped_rank(pick.withColumn("_nc", -F.col("cnt")), "part", ["_nc", "vid"], "qrn")
            .join(caps, "part")
            .filter(F.col("qrn") <= F.col("cap"))
            .select("vid", "part")
            .localCheckpoint(eager=True)
        )
        n_acc = accepted.count()
        if n_acc == 0:
            # frontier exists but all quotas full → relax (reference loops
            # with refreshed quotas until everything lands, :747)
            if pick.isEmpty():
                break
            for p in taken:
                taken[p] = 0
            continue
        for r in accepted.groupBy("part").count().collect():
            taken[r["part"]] = taken.get(r["part"], 0) + r["count"]
        assigned = assigned.union(accepted).localCheckpoint(eager=True)
        remaining = remaining.join(accepted, "vid", "left_anti").localCheckpoint(eager=True)
    sym.unpersist()
    return assigned
