"""Recursive Spectral Bisection — the flagship partitioner.

Reference driver (ref /root/reference/src/rsb.c:262-350): per level,
per cut k ≤ ⌈log₂ np⌉: pre-partition → Fiedler → parallel sort by
fiedler → bin into halves → comm_split → component check → balance →
recurse on the half.

Spark-first redesign: NO communicator recursion. All 2^cut groups live
in one DataFrame with a `part` column; each cut runs ONE grouped
Lanczos (see fiedler.py) over the union of all active subgraphs, then
ONE rank-exact split per group via the range-partitioned grouped rank
(functions/ids.py grouped_rank — bounded work per task even when group
0 is the whole graph; never a partitionBy(grp) window). Shuffle rounds
per cut are constant in the number of groups — at 1000 executors the
cut over 512 groups costs the same number of stages as the cut over 1.

Split semantics mirror the reference's processor binning
(`get_bin`, ref src/rsb.c:231-242: id < (np+1)/2 → bin 0): a k-way
target is halved as n0 = ⌈np/2⌉, n1 = ⌊np/2⌋, and each group's vertex
count splits proportionally — exact balance (the reference needs a
separate `balance_partitions` fix-up, ref src/rsb.c:118-229, because
its parallel sort bins are only approximately even; a rank-exact window
split needs none).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.config import EngineOptions, default_options
from parrsb_spark.functions.ids import grouped_rank
from parrsb_spark.operators.components import connected_components
from parrsb_spark.operators.fiedler import fiedler
from parrsb_spark.session import local_frame
from parrsb_spark.sources.edges import vertices_from_edges


def rsb_partition(
    edges: DataFrame,
    k: int,
    opts: EngineOptions | None = None,
    vertices: DataFrame | None = None,
    check_components: bool = False,
    lineage=None,
    seed_parts: DataFrame | None = None,
    coords: DataFrame | None = None,
    ckpt_dir: str | None = None,
    max_cuts: int | None = None,
    lineage_tag: str = "rsb",
) -> DataFrame:
    """Returns (vid, part) with part ∈ [0, k) and |part sizes| within ±1 of
    each other along every bisection (reference balance contract; waived
    when `opts.repair` moves vertices to reconnect halves).

    `seed_parts` = (vid, part) optional initial grouping: each seed group
    is partitioned into k pieces INDEPENDENTLY but CONCURRENTLY — all
    groups ride the same grouped-Lanczos DataFrame loop, so shuffle
    rounds per cut are constant in the number of seed groups (the
    tagged-partitioning driver uses this with part = dense tag index;
    the reference routes each tag to a comm_split process block instead,
    ref src/parrsb.c:379-561). Output parts are globally unique:
    seed_group_rank * k + local_part.

    `coords` = optional (vid, x, y, z): enables the `opts.rsb_pre`
    geometric pre-partitioner (ref src/rsb.c:282-292 — RCB/RIB before
    every spectral solve, default on upstream). In the grouped-DataFrame
    design the pre-partition's surviving effect is the Fiedler INIT
    vector: its "first half" becomes the per-cut RCB (rsb_pre=1) or RIB
    (rsb_pre=2) half, so Lanczos starts from the geometric bisection.
    Auto-off without coords, matching ref src/parrsb.c:250 (the webgraph
    case has no coordinates).

    `ckpt_dir` = optional durable checkpoint root: every cut's (vid,
    part) state is snapshotted via plans/lineage.checkpoint_state (the
    north-rule resume contract; the reference's analogue is its
    per-level metric stack as the resume record, ref src/metrics.c).
    A rerun with the same `ckpt_dir` RESUMES after the newest cut whose
    lineage row exists — the per-cut fan-out bookkeeping (`np_of`) is a
    pure function of (k, seed groups, cut) and is re-derived, not
    stored. `max_cuts` bounds the TOTAL bisection depth (resume-aware);
    an early exit returns the intermediate (vid, part) state (part ids
    are tree-node ids, not dense leaves) for a later resumed run to
    finish.

    `lineage_tag` names this run's lineage/checkpoint rows (default
    "rsb"); the two-level driver tags its levels rsb_l1/rsb_l2 so one
    shared LineageLog splits per level, the reference's per-level stat
    reporting (ref src/helpers.c:132-224)."""
    opts = opts or default_options()
    spark = edges.sparkSession
    if seed_parts is not None:
        state = seed_parts.select("vid", F.col("part").cast("long"))
        groups = sorted(r["part"] for r in state.select("part").distinct().collect())
        np_of: dict[int, int] = {int(g): k for g in groups}
    else:
        verts = (vertices or vertices_from_edges(edges)).select("vid")
        state = verts.withColumn("part", F.lit(0).cast("long"))
        np_of = {0: k}
    cut = 0
    ckpt_log = None
    if ckpt_dir is not None:
        from parrsb_spark.plans.lineage import LineageLog, latest_checkpoint

        ckpt_log = LineageLog(spark, ckpt_dir)
        resume = latest_checkpoint(spark, ckpt_dir, lineage_tag)
        if resume is not None:
            done_cut, state = resume
            cut = done_cut + 1
            np_of = _simulate_np(np_of, cut)
    # symmetrize once for every cut (fiedler would otherwise re-run the
    # distinct-over-2|E| shuffle per bisection level)
    from parrsb_spark.functions.spmv import symmetrize

    sym = symmetrize(edges).localCheckpoint(eager=True)

    while any(v > 1 for v in np_of.values()):
        active = sorted(g for g, npg in np_of.items() if npg > 1)
        membership = state.filter(F.col("part").isin(active)).select(
            "vid", F.col("part").alias("grp")
        )
        # per-phase profile rows (metric_rsb_print analogue, ref
        # src/metrics.c:68-106): driver walls, buffered, ONE flush per cut
        import contextlib as _ctx
        import time as _time

        ph = (
            lineage.phase
            if lineage is not None
            else (lambda *a, **k: _ctx.nullcontext())
        )
        with ph(lineage_tag, "pre", cut):
            init_order = _pre_partition_order(state, coords, active, opts)
        _t_fied = _time.monotonic()
        fied = fiedler(
            sym,
            membership=membership,
            opts=opts,
            symmetrized=True,
            init_order=init_order,
            lineage=lineage,
            level=cut,
            # cut 0 of an unseeded run is ONE group covering the whole
            # graph — the edge-tagging joins collapse to a literal
            single_group=0 if (cut == 0 and seed_parts is None) else None,
        )

        # rank-exact median cut per group (E6; the parallel-sort analogue).
        # grouped_rank is the scale-safe form: range-partitioned rank, NOT a
        # per-group window — at cut 0 group 0 is the entire graph and a
        # partitionBy(grp) window would funnel it through one task.
        sizes = {r["grp"]: r["n"] for r in fied.groupBy("grp").agg(F.count("*").alias("n")).collect()}
        if lineage is not None:
            # the size collect is the first action on fied — it materializes
            # the recombined fiedler DF, so it belongs to the fiedler phase
            lineage.phase_mark(lineage_tag, "fiedler", cut, _time.monotonic() - _t_fied)
        if opts.verbose:
            # the parrsb_print per-cut progress line (ref src/rsb.c:276-300)
            print(f"rsb: cut={cut} active_groups={len(active)} n={sum(sizes.values())}")
        _t_sort = _time.monotonic()
        split_rows = []
        new_np: dict[int, int] = {}
        for g in active:
            npg = np_of[g]
            n0 = (npg + 1) // 2
            n_g = sizes.get(g, 0)
            target0 = math.ceil(n_g * n0 / npg)
            split_rows.append((g, target0))
            new_np[g * 2] = n0
            new_np[g * 2 + 1] = npg - n0
        splits = F.broadcast(local_frame(spark, split_rows, "grp long, target0 long"))
        # materialized once: the tie-break probe collect and the state
        # write below both read it
        ranked = (
            grouped_rank(fied, "grp", ["fiedler", "vid"], "rn")
            .join(splits, "grp")
            .localCheckpoint(eager=True)
        )
        assigned = ranked.select(
            "vid",
            "grp",
            "fiedler",
            "rn",
            F.when(F.col("rn") <= F.col("target0"), 0).otherwise(1).alias("half"),
        )
        assigned = _tie_break_boundary(
            sym, ranked, assigned, threshold=opts.group_scalar_broadcast_threshold
        )
        if lineage is not None:
            # rank-exact split + boundary tie-break probes (RSB_SORT +
            # RSB_BALANCE collapse into one phase here — the rank-exact
            # split needs no post-hoc balance fix-up, ref src/rsb.c:118-229)
            lineage.phase_mark(lineage_tag, "sort", cut, _time.monotonic() - _t_sort)
        assigned = assigned.select(
            "vid", (F.col("grp") * 2 + F.col("half")).alias("part")
        )
        inactive = state.filter(~F.col("part").isin(active)).select(
            "vid", (F.col("part") * 2).alias("part")
        )
        for g, npg in np_of.items():
            if npg <= 1:
                new_np[g * 2] = npg
        state = assigned.union(inactive)
        if opts.repair:
            new_parts = sorted({g * 2 for g in active} | {g * 2 + 1 for g in active})
            state = _repair_parts(sym, state, new_parts)
        with ph(lineage_tag, "checkpoint", cut):
            if ckpt_log is not None:
                # durable snapshot + lineage row (write-state-then-log: a
                # crash between the two leaves the PREVIOUS cut resumable)
                from parrsb_spark.plans.lineage import checkpoint_state

                state = checkpoint_state(state, ckpt_log, lineage_tag, cut)
            else:
                state = state.localCheckpoint(eager=True)
        np_of = new_np

        if check_components:
            with ph(lineage_tag, "components", cut):
                _component_check(edges, state, cut)
        if lineage is not None:
            # the per-group size rows ride the cut's one phase append
            lineage.flush_phases(
                [(lineage_tag, cut, int(g), None, int(n_g)) for g, n_g in sizes.items()]
            )
        cut += 1
        if max_cuts is not None and cut >= max_cuts and any(v > 1 for v in np_of.values()):
            return state.select("vid", "part")

    # leaves → dense 0..k-1 (order-preserving)
    leaves = sorted(np_of)
    remap = F.broadcast(
        local_frame(spark, [(g, i) for i, g in enumerate(leaves)], "part long, dense long")
    )
    return state.join(remap, "part").select("vid", F.col("dense").alias("part"))


def _simulate_np(np0: dict[int, int], cuts: int) -> dict[int, int]:
    """Re-derive the per-group remaining-processor map after `cuts`
    bisection rounds — the same arithmetic as the driver loop (get_bin
    halving, ref src/rsb.c:231-242), so a resumed run needs no stored
    bookkeeping beyond (k, seed groups, cut)."""
    np_of = dict(np0)
    for _ in range(cuts):
        new: dict[int, int] = {}
        for g, npg in np_of.items():
            if npg > 1:
                n0 = (npg + 1) // 2
                new[g * 2] = n0
                new[g * 2 + 1] = npg - n0
            else:
                new[g * 2] = npg
        np_of = new
    return np_of


def rsb_resumable(
    edges: DataFrame,
    k: int,
    ckpt_dir: str,
    opts: EngineOptions | None = None,
    **kw,
) -> DataFrame:
    """RSB with durable checkpoint/resume (SURVEY §7 M3): snapshots every
    cut under `ckpt_dir`, and a rerun after an interruption continues
    from the newest complete cut, producing a part map identical to the
    uninterrupted run (tested kill-after-cut-1 in tests/test_round4.py).
    Thin alias of `rsb_partition(..., ckpt_dir=...)` — the sibling of
    plans/lineage.pagerank_resumable."""
    return rsb_partition(edges, k, opts=opts, ckpt_dir=ckpt_dir, **kw)


def _tie_break_boundary(
    sym: DataFrame,
    ranked: DataFrame,
    assigned: DataFrame,
    threshold: int | None = None,
) -> DataFrame:
    """Cut-aware handling of fiedler TIES at the split boundary (E7).

    The reference's balance fix-up moves *boundary* elements between the
    halves in fiedler order, preserving cut quality while restoring
    balance (`balance_partitions`, ref /root/reference/src/rsb.c:118-229).
    The rank-exact window split already guarantees balance, but when the
    fiedler value at the boundary is TIED (symmetric graphs — grids,
    cliques), the vid tie-break is cut-blind. Here, per group, the tied
    band around the boundary is re-assigned greedily: each tied vertex
    scores (#neighbors fixed in half 0) − (#neighbors fixed in half 1),
    and the band's half-0 quota goes to the highest-scoring vertices
    (ties on score → vid, fully deterministic). Sizes are unchanged.

    The tie test is TOLERANCE-based (|f_hi − f_lo| ≤ 1e-9·scale), not
    float-exact: distributed summation nondeterminism can perturb a tied
    plateau by an ulp, and an exact-equality test would silently skip the
    cut-aware re-assignment on symmetric graphs. Determinism is preserved
    by the score/vid ordering of the re-assignment itself.

    Cost discipline: one tiny per-group aggregate decides whether ANY
    group has a boundary tie; the common untied case pays nothing else.

    Per-group scalars (the tie value and the half-0 quota) go through
    `_attach_group_scalars`, not raw `_lit_map`: a deep-k cut where
    THOUSANDS of groups tie at the boundary (symmetric meshes at k=2¹⁴)
    would otherwise rebuild multi-thousand-entry map LITERALS in the
    plan — the exact plan-width hazard the broadcast fallback exists
    for. `threshold` is the caller's
    `opts.group_scalar_broadcast_threshold`; the tie map covers only
    the tied groups, so its attach is `how="left"` (the broadcast
    branch's inner join would silently drop every untied group's rows).
    """
    spark = sym.sparkSession
    # boundary fiedler values: ranks target0 / target0+1
    bvals = (
        ranked.filter((F.col("rn") == F.col("target0")) | (F.col("rn") == F.col("target0") + 1))
        .groupBy("grp")
        .agg(
            F.min("fiedler").alias("f_lo"),
            F.max("fiedler").alias("f_hi"),
            F.count("*").alias("n_b"),
        )
        .filter(
            (F.col("n_b") == 2)
            & (
                F.col("f_hi") - F.col("f_lo")
                <= F.lit(1e-9) * F.greatest(F.abs("f_lo"), F.abs("f_hi"))
            )
        )
        .select("grp", F.col("f_lo").alias("f_tie"))
        .collect()
    )
    if not bvals:
        return assigned
    tie_map = {int(r["grp"]): float(r["f_tie"]) for r in bvals}
    from parrsb_spark.operators.fiedler import (
        _attach_group_scalars,
        _drop_group_scalars,
    )

    a0, sct = _attach_group_scalars(
        assigned, {"f_tie": tie_map}, threshold=threshold, how="left"
    )
    f_tie_col = sct["f_tie"]
    # untied groups carry a NULL f_tie (missing map key / unmatched left
    # join) — isNotNull() collapses them to false at O(1) plan width; an
    # isin(tied_groups) guard would rebuild the very O(#groups) literal
    # list the scalar attach's broadcast fallback exists to avoid
    is_tied = f_tie_col.isNotNull() & (
        F.abs(F.col("fiedler") - f_tie_col)
        <= F.lit(1e-9) * F.greatest(F.abs(f_tie_col), F.abs("fiedler"))
    )
    a = _drop_group_scalars(a0.withColumn("tied", is_tied)).localCheckpoint(eager=True)
    fixed = a.filter(~F.col("tied")).select(
        F.col("vid").alias("nbr"), F.col("grp").alias("ngrp"), F.col("half").alias("nhalf")
    )
    tied = a.filter(F.col("tied"))
    # score = (#fixed nbrs in half 0) − (#fixed nbrs in half 1), intra-group
    # (caller passes the already-symmetrized, cached edge set)
    nbr_half = (
        sym.join(tied.select(F.col("vid").alias("src"), "grp"), "src")
        .join(fixed, (F.col("dst") == F.col("nbr")) & (F.col("grp") == F.col("ngrp")))
        .groupBy(F.col("src").alias("vid"))
        .agg(F.sum(F.when(F.col("nhalf") == 0, 1).otherwise(-1)).alias("score"))
    )
    quota = {
        int(r["grp"]): int(r["q"])
        for r in tied.groupBy("grp").agg(F.sum(F.lit(1) - F.col("half")).alias("q")).collect()
    }
    scored = (
        tied.join(nbr_half, "vid", "left")
        .withColumn("score", F.coalesce("score", F.lit(0)))
        # grouped_rank orders ascending; rank by (−score, vid) for the
        # desc-score / asc-vid order without a per-group window (a tied
        # band CAN be an entire group — cliques, regular graphs)
        .withColumn("_ns", -F.col("score"))
    )
    ranked_t, scq = _attach_group_scalars(
        grouped_rank(scored, "grp", ["_ns", "vid"], "trn"),
        {"quota": quota},
        threshold=threshold,
    )
    re_t = ranked_t.withColumn(
        "half", F.when(F.col("trn") <= scq["quota"], 0).otherwise(1)
    ).select("vid", "grp", "fiedler", "rn", "half", "tied")
    # explicit column order on BOTH union sides: the broadcast scalar
    # attach is a join on grp, which moves grp to column 0 — a bare
    # positional union would silently swap vid/grp
    untied_out = a.filter(~F.col("tied")).select(
        "vid", "grp", "fiedler", "rn", "half", "tied"
    )
    return untied_out.union(re_t).drop("tied")


def _pre_partition_order(
    state: DataFrame, coords: DataFrame | None, active: list, opts: EngineOptions
) -> DataFrame | None:
    """The rsb_pre hook (ref src/rsb.c:282-292): per cut, compute every
    active group's geometric order — widest-axis coordinate (rsb_pre=1,
    the RCB round) or inertial-axis projection (rsb_pre=2, the RIB
    round) — and feed it to the Fiedler init as `init_order`. rsb_pre=0
    (the reference's globalId parallel sort) is the default vid order.
    Auto-off without coords (ref src/parrsb.c:250)."""
    if coords is None or opts.rsb_pre == 0:
        return None
    st = state.filter(F.col("part").isin(active)).join(coords, "vid")
    if opts.rsb_pre == 1:
        from parrsb_spark.operators.rcb import axis_order

        ordered = axis_order(st, active)
    elif opts.rsb_pre == 2:
        from parrsb_spark.operators.rib import inertial_order

        ordered = inertial_order(st, active)
    else:
        raise ValueError(f"unknown rsb_pre {opts.rsb_pre!r} (0 | 1 | 2)")
    return ordered.select("vid", F.col("_ord").alias("ord"))


def _repair_parts(sym: DataFrame, state: DataFrame, parts: list) -> DataFrame:
    """Reconnect disconnected halves (the `repair` option, ref
    parRSB.h:28 / src/parrsb.c:33): every non-largest connected
    component of each part in `parts` moves to the part's bisection
    sibling (part = g·2+h → sibling g·2+(1−h)) — one pass per cut, same
    trade-off as the reference (connectivity restored at the cost of
    exact balance; its balance fix-up runs afterwards, ours is the next
    cut's rank-exact split).

    One CC run over the union of all part-subgraphs serves every part at
    once (components cannot span parts because cross-part edges are
    filtered), keeping the repair pass constant in the number of parts.
    """
    m = state
    e_in = (
        sym.join(m.select(F.col("vid").alias("src"), F.col("part").alias("p1")), "src")
        .join(m.select(F.col("vid").alias("dst"), F.col("part").alias("p2")), "dst")
        .filter(F.col("p1") == F.col("p2"))
        .select("src", "dst")
    )
    cc = connected_components(e_in, vertices=state.select("vid"))
    sized = cc.join(state, "vid")
    in_scope = sized.filter(F.col("part").isin(parts))
    keep = (
        in_scope.groupBy("part", "comp")
        .agg(F.count("*").alias("n"))
        .groupBy("part")
        .agg(F.max(F.struct(F.col("n"), (-F.col("comp")).alias("nc"))).alias("m"))
        .select("part", (-F.col("m.nc")).alias("keep_comp"))
    )
    sibling = F.col("part") + 1 - 2 * F.pmod(F.col("part"), F.lit(2))
    repaired = (
        in_scope.join(F.broadcast(keep), "part")
        .select(
            "vid",
            F.when(F.col("comp") == F.col("keep_comp"), F.col("part"))
            .otherwise(sibling)
            .alias("part"),
        )
    )
    untouched = state.filter(~F.col("part").isin(parts))
    return repaired.union(untouched.select("vid", "part"))


def _component_check(edges: DataFrame, state: DataFrame, cut: int) -> None:
    """Per-half connectivity QA (ref check_disconnected_components,
    src/rsb.c:46-59): warn when a bisection half is disconnected.

    ONE grouped CC pass serves every part at once (cross-part edges are
    filtered, so components never span parts) — constant stage count in
    the number of parts, not a per-part driver loop."""
    import warnings

    m = state.select("vid", F.col("part"))
    tagged = (
        edges.join(m.withColumnRenamed("vid", "src").withColumnRenamed("part", "p1"), "src")
        .join(m.withColumnRenamed("vid", "dst").withColumnRenamed("part", "p2"), "dst")
        .filter(F.col("p1") == F.col("p2"))
        .select("src", "dst")
    )
    cc = connected_components(tagged, vertices=state.select("vid"))
    per_part = (
        cc.join(m, "vid")
        .groupBy("part")
        .agg(F.countDistinct("comp").alias("ncomp"), F.count("*").alias("n"))
        .filter((F.col("ncomp") > 1) & (F.col("n") > 1))
        .collect()
    )
    for r in per_part:
        warnings.warn(
            f"rsb cut {cut}: part {r['part']} has {r['ncomp']} components", stacklevel=2
        )
