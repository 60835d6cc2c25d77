"""Fiedler vector via Lanczos — the reference's flagship kernel.

Reference pipeline (ref /root/reference/src/fiedler.c):
  deterministic init (:574-578) → ortho vs ones (:20-30) → Lanczos
  tridiagonalization (:434-511, one SpMV + a few allreduces per
  iteration) → serial tridiagonal eigensolve TQLI (:328-432) → Krylov
  recombination + restart passes (:513-561).

Spark-first redesign — GROUPED Lanczos: where the reference halves the
MPI communicator and recurses (`comm_split`, ref src/rsb.c:317), we keep
ALL bisection groups in one DataFrame with a `grp` column and run one
shared Lanczos loop over the union graph. The graph Laplacian is
block-diagonal across groups (edges are intra-group), so one SpMV
gather-scatter serves every group at once; per-group scalars
(alpha/beta/residual — the comm_allreduce analogues) come back from a
single groupBy('grp') aggregation per step. Total shuffle rounds per
RSB level are therefore independent of the number of groups.

Per iteration: 1 gather-scatter (join + groupBy) + ONE scalar
aggregation collect (the single comm_allreduce analogue) + 1 lazy
localCheckpoint (materialized by the same collect job — one Spark job
per iteration). Per-group scalars re-enter the plan as LITERAL map
expressions (no broadcast-join round-trips), and the Krylov basis
accumulates as ONE array column in the vertex state (no per-iteration
basis DataFrames — memory is bounded by a single vertex-state table,
and recombination is a zip_with dot product instead of an m-way union).
Tridiagonal eigensolve = numpy on the driver (m ≤ 50, the
replicated-serial-TQLI analogue of ref fiedler.c:537).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.config import EngineOptions, default_options
from parrsb_spark.functions.ids import grouped_rank
from parrsb_spark.functions.loop import spmv_loop
from parrsb_spark.functions.spmv import symmetrize
from parrsb_spark.session import hard_truncate as _hard_truncate
from parrsb_spark.session import local_frame
from parrsb_spark.sources.edges import vertices_from_edges

_EPS = 1e-30


def _lit_map(d: dict) -> "F.Column":
    """Per-group scalar as a LITERAL map expression (grp → value).

    Replaces the broadcast-join of a tiny scalars DataFrame: a literal
    map lookup is pure codegen — zero exchanges, zero broadcast
    round-trips per iteration. Fine for ≤ thousands of groups (map
    literals live in the plan); the comm_allreduce-result analogue."""
    args = []
    for k in sorted(d):
        args += [F.lit(int(k)), F.lit(float(d[k]))]
    return F.create_map(*args)


def _lit_arr_map(d: dict) -> "F.Column":
    """grp → array<double> literal map (per-group weight vectors)."""
    args = []
    for k in sorted(d):
        args += [F.lit(int(k)), F.array(*[F.lit(float(v)) for v in d[k]])]
    return F.create_map(*args)


def _attach_group_scalars(
    df: DataFrame,
    scalars: dict[str, dict] | None = None,
    arrays: dict[str, dict] | None = None,
    threshold: int | None = None,
    how: str = "inner",
) -> tuple[DataFrame, dict]:
    """Per-group scalars (and array weights) for a plan, with an
    automatic physical fallback. Returns (df', {name: Column}).

    Below `threshold` groups (default
    `EngineOptions.group_scalar_broadcast_threshold`): LITERAL map
    lookups — pure codegen, zero exchanges per iteration (the
    comm_allreduce-result analogue; the reference bakes the same values
    into rank-local arrays, ref fiedler.c:473-506).

    Above it: ONE broadcast-joined scalars DataFrame carries every
    column. Literal maps grow the PLAN linearly in group count — a deep
    RSB (k = 2¹⁴ → 8k active groups) would rebuild multi-thousand-entry
    (for recombine: × basis-length) map literals several times per
    iteration, so plan size / Catalyst compile time explodes while the
    broadcast form stays flat: one tiny exchange reused by the iteration
    plan. Crossover (~2k groups) recorded in BASELINE.md "Round-4
    deep-k RSB: k=1024 end-to-end, both group-scalar paths".

    In the broadcast branch the joined columns are named `_sc_<name>`;
    callers that must preserve schema drop them via
    `_drop_group_scalars` (selects with explicit column lists need
    nothing).

    `how="left"` keeps rows whose grp is ABSENT from the dicts (their
    scalar columns come back null — identical to the literal branch's
    missing-key map lookup). Callers whose scalar dicts cover only a
    SUBSET of the groups in `df` must pass it: the default inner join
    would silently drop the uncovered groups' rows."""
    scalars = scalars or {}
    arrays = arrays or {}
    if threshold is None:
        threshold = default_options().group_scalar_broadcast_threshold
    ngroups = max(
        [len(d) for d in scalars.values()] + [len(d) for d in arrays.values()] + [0]
    )
    if ngroups <= threshold:
        cols = {k: _lit_map(d)[F.col("grp")] for k, d in scalars.items()}
        cols.update({k: _lit_arr_map(d)[F.col("grp")] for k, d in arrays.items()})
        return df, cols
    spark = df.sparkSession
    snames, anames = sorted(scalars), sorted(arrays)
    groups = sorted(set().union(*[set(d) for d in {**scalars, **arrays}.values()]))
    rows = [
        tuple(
            [int(g)]
            + [float(scalars[k].get(g, 0.0)) for k in snames]
            + [[float(x) for x in arrays[k].get(g, [])] for k in anames]
        )
        for g in groups
    ]
    schema = "grp long" + "".join(f", _sc_{k} double" for k in snames) + "".join(
        f", _sc_{k} array<double>" for k in anames
    )
    sdf = F.broadcast(local_frame(spark, rows, schema))
    out_cols = {k: F.col(f"_sc_{k}") for k in snames + anames}
    return df.join(sdf, "grp", how), out_cols


def _drop_group_scalars(df: DataFrame) -> DataFrame:
    sc = [c for c in df.columns if c.startswith("_sc_")]
    return df.drop(*sc) if sc else df


def fiedler(
    edges: DataFrame,
    membership: DataFrame | None = None,
    opts: EngineOptions | None = None,
    sign_fix: bool = True,
    symmetrized: bool = False,
    init_order: DataFrame | None = None,
    lineage=None,
    level: int = 0,
    single_group: int | None = None,
) -> DataFrame:
    """Returns (vid, grp, fiedler), unit-norm per group, sign-fixed so the
    entry at the group's smallest vid with |f| > 1e-9 is positive.

    `membership` = (vid, grp); default: all vertices in group 0. Edges
    crossing groups are dropped (the Laplacian of each subgraph).
    `symmetrized=True` skips the symmetrize pass — callers that loop over
    cuts (the RSB driver) symmetrize + cache ONCE instead of paying the
    distinct-over-2|E| shuffle per cut.

    Design note (measured): Lanczos iterations are NOT burst-fused the
    way pagerank chains its steps — each iteration's alpha/beta must
    reach the driver for the tridiagonal solve, and feeding them back
    cluster-side as broadcast aggregates forces the full SpMV subtree to
    recompute per broadcast (sf0.1: burst=2 took 2.5x the single-step
    loop). One job per iteration with literal-map scalars is the win.

    `init_order` = optional (vid, ord): the deterministic init ranks by
    (ord, vid) instead of vid — the rsb_pre geometric pre-partition hook
    (ref src/rsb.c:282-292): the init vector's "first half" becomes the
    RCB/RIB half, so Lanczos starts from the geometric bisection.

    `single_group` = caller's assertion that `membership` is exactly ONE
    group with this id and it covers every edge endpoint — skips the
    two edge-tagging shuffle joins (the group column becomes a literal).
    This is cut 0 of every RSB run and every standalone fiedler() call:
    at 64M edges the tagging joins dominate the setup phase, and at cut
    0 they tag everything with the same constant. Auto-set to 0 when
    `membership` is None. Later cuts (real multi-group membership) take
    the join path unchanged.

    `lineage` = optional plans.lineage.LineageLog: buffers per-phase
    wall rows (fiedler_setup / lanczos / tqli / niter) at RSB level
    `level` — the metric_rsb_print profile analogue (ref
    /root/reference/src/metrics.c:68-106). Phase walls are driver
    walls: a phase owns the jobs that MATERIALIZE inside it; the
    lazily-built output DF is billed to the caller's first action.
    """
    import time as _time

    opts = opts or default_options()
    _t_setup = _time.monotonic()
    spark = edges.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))

    sym = edges.select("src", "dst") if symmetrized else symmetrize(edges)
    verts = vertices_from_edges(edges)
    if membership is None:
        membership = verts.withColumn("grp", F.lit(0))
        if single_group is None:
            single_group = 0
    membership = membership.select("vid", F.col("grp").cast("long"))

    if single_group is not None:
        # one group covering all endpoints (caller contract): the tag is
        # a constant — no edge-side membership joins
        tagged = sym.select("src", "dst", F.lit(int(single_group)).cast("long").alias("grp"))
    else:
        # intra-group symmetric edges, tagged with grp
        m_src = membership.select(F.col("vid").alias("src"), F.col("grp").alias("g1"))
        m_dst = membership.select(F.col("vid").alias("dst"), F.col("grp").alias("g2"))
        tagged = (
            sym.join(m_src, "src")
            .join(m_dst, "dst")
            .filter(F.col("g1") == F.col("g2"))
            .select("src", "dst", F.col("g1").alias("grp"))
        )
    base = None

    def setup(lp) -> DataFrame:
        # base = (vid, grp, deg) over the cached edges, cached for the
        # solve; isolated vertices get deg 0 (their fiedler is 0 — they
        # carry no cut info). The loop's one setup aggregate reads the
        # edge rows (Σdeg), the max degree and every group's size off it.
        nonlocal base
        deg = lp.edges.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
        base = lp.cache(
            membership.join(deg, "vid", "left")
            .select("vid", "grp", F.coalesce("deg", F.lit(0)).cast("double").alias("deg"))
            .repartition(n_shuffle, "vid")
        )
        return (
            base.groupBy("grp")
            .agg(F.count("*").alias("n"), F.max("deg").alias("mx"), F.sum("deg").alias("se"))
            .agg(
                F.sum("se").alias("rows"),
                F.max("mx").alias("max_degree"),
                F.map_from_entries(F.collect_list(F.struct("grp", "n"))).alias("sizes"),
            )
        )

    # the driver caches `tagged` sorted on src (re-keyed to the loop
    # partitions) and `base`, gates AQE on the max degree, scopes the
    # loop conf around both solves and releases both caches on exit —
    # the solve's result is an eager checkpoint, so nothing recomputes
    with spmv_loop(tagged, "src", auto_broadcast=False, probe=setup, opts=opts) as lp:
        e = lp.edges
        sizes = lp.stats["sizes"]
        # ---- deterministic init (ref fiedler.c:574-578): rank within group,
        # +1000*n for the first half — a seeded, reproducible split direction.
        # Rank is the scale-safe range-partitioned form (grouped_rank), never a
        # partitionBy(grp) window (whole group in one task). With init_order
        # (the rsb_pre hook) the rank follows the geometric pre-order.
        if init_order is not None:
            ibase = base.join(
                init_order.select("vid", F.col("ord").alias("_iord")), "vid", "left"
            ).withColumn("_iord", F.coalesce("_iord", F.lit(0.0)))
            init = grouped_rank(ibase, "grp", ["_iord", "vid"], "r").drop("_iord")
        else:
            init = grouped_rank(base, "grp", ["vid"], "r")

        # init mean/norm are CLOSED FORM — x is a permutation of
        # {r + 1000n·[r ≤ n/2] : r = 1..n}, so Σx and Σx² follow from n alone
        # (exact integer arithmetic). Saves the _orthonormalize full-pass job
        # that round 2 paid at every fiedler() call.
        mu_d, nrm_d = {}, {}
        for g, n in sizes.items():
            h = n // 2
            sx = n * (n + 1) // 2 + 1000 * n * h
            sxx = (
                n * (n + 1) * (2 * n + 1) // 6
                + 1000 * n * h * (h + 1)
                + h * (1000 * n) ** 2
            )
            nrm2 = float(n * sxx - sx * sx) / n if n else 0.0
            mu_d[g] = sx / n if n else 0.0
            nrm_d[g] = math.sqrt(nrm2) if nrm2 > _EPS else 1.0
        init, sc0 = _attach_group_scalars(
            init,
            {"n": {g: float(n) for g, n in sizes.items()}, "mu": mu_d, "nrm": nrm_d},
            threshold=opts.group_scalar_broadcast_threshold,
        )
        n_col = sc0["n"]
        x_col = (
            F.col("r").cast("double")
            + F.when(F.col("r") <= n_col / 2, 1000.0 * n_col).otherwise(0.0)
        )
        state0 = init.select(
            "vid", "grp", "deg", ((x_col - sc0["mu"]) / sc0["nrm"]).alias("q")
        )
        # Determinize the solve against SESSION HISTORY: grouped_rank's
        # repartitionByRange samples range boundaries with an RDD-id-seeded
        # RNG, so state0's physical layout differs between, say, a fresh
        # resume-from-checkpoint session and a session that just computed the
        # previous cut — and iteration 0's per-group float sums then
        # accumulate in a different order, which an unconverged Lanczos
        # amplifies into a materially different vector (measured: 11% of a
        # 100k-vertex power-law bisection flipped). The rank VALUES are exact
        # either way; only the layout leaks. Every in-loop exchange is keyed
        # (hash partitioning + sort-merge-join ordering), so pinning state0
        # to hash(vid) with in-partition vid order makes the whole solve —
        # and therefore a resumed RSB run — replay bit-identically regardless
        # of what ran earlier in the session (tools/run_submit_smoke.sh).
        state0 = state0.repartition(lp.partitions, "vid").sortWithinPartitions("vid")
        f_df = None
        if lineage is not None:
            lineage.phase_mark("fiedler", "fiedler_setup", level, _time.monotonic() - _t_setup)
        _w_lanczos = _w_tqli = 0.0
        _niter = 0

        if opts.rsb_algo == "inverse":
            # D9-D11: inverse power iteration with MG-preconditioned projected
            # CG (ref inverse(), src/fiedler.c:189-321; rsb_algo=1)
            _t0 = _time.monotonic()
            f_df = _inverse_driver(spark, e, base, sizes, opts, state0)
            _w_lanczos = _time.monotonic() - _t0
            _niter = opts.rsb_max_iter
        elif opts.rsb_algo == "lanczos":
            state = _fresh_state(state0)
            passes = max(1, opts.rsb_max_passes)
            for pss in range(passes):
                _t0 = _time.monotonic()
                state, alphas, betas, updates = _lanczos_pass(e, state, sizes, opts)
                _w_lanczos += _time.monotonic() - _t0
                _niter += max((len(v) for v in alphas.values()), default=0)
                _t0 = _time.monotonic()
                f_df = _recombine(spark, state, alphas, betas, sizes, updates, opts)
                _w_tqli += _time.monotonic() - _t0
                if pss + 1 >= passes:
                    # no restart can happen — the residual's only consumer is
                    # the restart decision, so skip its SpMV + collect (the
                    # bench config rsb_max_passes=1 always takes this exit)
                    break
                # residual check per group: ||L f - lambda f||
                res = _residuals(e, base, f_df)
                if all(r < opts.rsb_tol for r in res.values()):
                    break
                # restart with f as the new initial vector (ref fiedler.c:529)
                state = (
                    base.join(f_df.select("vid", F.col("fiedler").alias("x")), "vid", "left")
                    .select("vid", "grp", "deg", F.coalesce("x", F.lit(0.0)).alias("x"))
                )
                state = _fresh_state(_orthonormalize(state, "x", "q"))
        else:
            raise ValueError(f"unknown rsb_algo {opts.rsb_algo!r} (lanczos | inverse)")

    if lineage is not None:
        # lanczos = the iterative solve (RSB_LANCZOS; the inverse path's
        # whole CG driver bills here), tqli = driver tridiag eigensolve +
        # recombination build (RSB_LANCZOS_TQLI), niter = iteration count
        # (RSB_FIEDLER_CALC_NITER — a counter row: rows, not wall)
        lineage.phase_mark("fiedler", "lanczos", level, _w_lanczos)
        lineage.phase_mark("fiedler", "tqli", level, _w_tqli)
        lineage.phase_mark("fiedler", "niter", level, 0.0, rows=_niter)

    out = f_df.select("vid", "grp", "fiedler")
    if sign_fix:
        # sign convention (positive entry at the group's smallest vid with
        # |f| > 1e-9) via ONE struct-min aggregate — map-side combined, no
        # whole-group single-task window
        signs = (
            out.groupBy("grp")
            .agg(
                F.min(
                    F.struct(
                        (F.abs(F.col("fiedler")) < 1e-9).cast("int").alias("z"),
                        F.col("vid").alias("v"),
                        F.col("fiedler").alias("f"),
                    )
                ).alias("m")
            )
            .select("grp", F.when(F.col("m.f") < 0, -1.0).otherwise(1.0).alias("sgn"))
        )
        out = out.join(F.broadcast(signs), "grp").select(
            "vid", "grp", (F.col("fiedler") * F.col("sgn")).alias("fiedler")
        )
    return out


def _orthonormalize(df: DataFrame, in_col: str, out_col: str) -> DataFrame:
    """Deflate the constant vector per group then scale to unit norm
    (ref ortho, fiedler.c:20-30; normalization :590)."""
    spark = df.sparkSession
    # one reduction: mu = Σx/n, ||x − mu||² = Σx² − n·mu²
    stats = (
        df.groupBy("grp")
        .agg(F.sum(in_col).alias("s"), F.sum(F.col(in_col) ** 2).alias("ss"), F.count("*").alias("n"))
        .collect()
    )
    mu_d, nrm_d = {}, {}
    for r in stats:
        mu = float(r["s"] / r["n"])
        nrm2 = float(r["ss"]) - r["n"] * mu * mu
        mu_d[int(r["grp"])] = mu
        nrm_d[int(r["grp"])] = math.sqrt(nrm2) if nrm2 > _EPS else 1.0
    df, sc = _attach_group_scalars(df, {"mu": mu_d, "nrm": nrm_d})
    return _drop_group_scalars(
        df.withColumn(out_col, (F.col(in_col) - sc["mu"]) / sc["nrm"]).drop(in_col)
    )


def _spmv(e: DataFrame, state: DataFrame, col: str) -> DataFrame:
    """One Laplacian apply: (L q)[v] = deg[v]*q[v] − Σ_{u~v} q[u].
    ONE gather-scatter — the gs_weighted analogue (ref laplacian.c:188-205)."""
    gathered = (
        e.join(state.select(F.col("vid").alias("src"), F.col(col).alias("_qv")), "src")
        .groupBy(F.col("dst").alias("vid"))
        .agg(F.sum("_qv").alias("_g"))
    )
    return (
        state.join(gathered, "vid", "left")
        .withColumn("_Lq", F.col("deg") * F.col(col) - F.coalesce("_g", F.lit(0.0)))
        .drop("_g")
    )


def _group_scalars(df: DataFrame, exprs: dict) -> dict:
    """One groupBy('grp') reduction returning {grp: {name: value}} —
    the comm_allreduce analogue for the inverse/CG path."""
    aggs = [v.alias(k) for k, v in exprs.items()]
    out = {}
    for r in df.groupBy("grp").agg(*aggs).collect():
        out[int(r["grp"])] = {k: float(r[k] or 0.0) for k in exprs}
    return out


def _ortho_mean(df: DataFrame, col: str) -> DataFrame:
    """Deflate the constant vector: x ← x − mean_grp(x) (ref ortho,
    fiedler.c:20-30) via a literal-map lookup (or the broadcast-join
    fallback past the group threshold)."""
    mu = _group_scalars(df, {"s": F.sum(col), "n": F.count(F.lit(1))})
    mu_d = {g: (v["s"] / v["n"] if v["n"] else 0.0) for g, v in mu.items()}
    df, sc = _attach_group_scalars(df, {"mu": mu_d})
    return _drop_group_scalars(df.withColumn(col, F.col(col) - sc["mu"]))


def _inverse_driver(spark, e, base, sizes, opts, state0) -> DataFrame:
    """Inverse power iteration: repeatedly solve L y = z with a
    multigrid-preconditioned projected (flexible) CG, normalize, and
    re-orthogonalize against ones (ref inverse(), src/fiedler.c:189-321;
    CG = project(), :96-186; preconditioner = mg_vcycle). Stops when the
    CG solve converges in one iteration (the reference's ppfi == 1 stop)
    or after rsb_max_passes.

    Divergence from the reference: the full W/P Gram re-orthogonalization
    of the CG search direction (project(), fiedler.c:170-180) is omitted —
    flexible PCG with the Polak-Ribière beta (rz2/rzt, :163) is stable for
    these SPD-on-1⊥ systems. The optional grammian Rayleigh–Ritz
    refinement (fiedler.c:250-305, default-off upstream) IS implemented:
    `opts.rsb_mg_grammian=1` routes each inter-pass iterate through
    `_grammian_refine` (distributed) / `np_inverse_fiedler(grammian=True)`
    (the collected tail path)."""
    from parrsb_spark.functions.ids import dense_ids_scalable
    from parrsb_spark.operators.multigrid import mg_setup, mg_vcycle

    # contiguous 1-based per-group row ids (comm_scan numbering analogue)
    ranked = dense_ids_scalable(base.select("grp", "vid"), ["grp", "vid"], "_g")
    offs = ranked.groupBy("grp").agg((F.min("_g") - 1).alias("_off"))
    ridmap = (
        ranked.join(offs, "grp")
        .select("grp", "vid", (F.col("_g") - F.col("_off")).alias("r"))
        .localCheckpoint(eager=True)
    )
    lap_off = (
        e.join(ridmap.select("grp", F.col("vid").alias("src"), F.col("r").alias("rs")), ["grp", "src"])
        .join(ridmap.select("grp", F.col("vid").alias("dst"), F.col("r").alias("rd")), ["grp", "dst"])
        .select("grp", F.col("rs").alias("r"), F.col("rd").alias("c"), F.lit(-1.0).alias("v"))
    )
    lap_diag = (
        base.join(ridmap, ["grp", "vid"]).select("grp", "r", F.col("deg").alias("d"))
    )
    h = mg_setup(
        lap_off,
        lap_diag,
        factor=max(2, opts.rsb_mg_factor),
        tail_threshold=opts.mg_tail_threshold,
    )
    # CG iteration budget — deliberately NOT capped at the group size
    # (unlike the Lanczos Krylov dimension): preconditioned CG in floating
    # point routinely needs > n steps to hit tight tolerances
    miter = opts.rsb_max_iter
    tol = opts.rsb_tol

    if not h.levels:
        # Every group fits under mg_tail_threshold: run the reference
        # arithmetic per group on the driver (the serial base-case
        # analogue of the Lanczos path's driver-side TQLI; h.tail[g][0]
        # IS the group's full Laplacian). At 10^12 vertices only the
        # last ~log2(threshold) bisection levels take this path.
        from parrsb_spark.operators.multigrid import np_inverse_fiedler

        z0_rows = (
            state0.join(ridmap, ["grp", "vid"]).select("grp", "r", "q").collect()
        )
        z0_by_grp: dict[int, dict[int, float]] = {}
        for row in z0_rows:
            z0_by_grp.setdefault(int(row["grp"]), {})[int(row["r"])] = float(row["q"])
        out_rows = []
        for g, levels_np in h.tail.items():
            A = levels_np[0]
            n_g = A.shape[0]
            z0 = np.zeros(n_g)
            for rid, val in z0_by_grp.get(g, {}).items():
                z0[rid - 1] = val
            f_np = np_inverse_fiedler(
                A, z0, miter, max(1, opts.rsb_max_passes), tol,
                factor=max(2, opts.rsb_mg_factor),
                grammian=bool(opts.rsb_mg_grammian),
            )
            for i, val in enumerate(f_np):
                out_rows.append((g, i + 1, float(val)))
        f_small = local_frame(spark, out_rows, "grp long, r long, z double")
        return (
            f_small.join(ridmap, ["grp", "r"])
            .select("vid", "grp", F.col("z").alias("fiedler"))
            .localCheckpoint(eager=True)
        )

    off_ck = lap_off.localCheckpoint(eager=True)
    diag_ck = lap_diag.localCheckpoint(eager=True)

    def lap_apply(vec: DataFrame, col: str) -> DataFrame:
        """(grp, r, <col>) → (grp, r, _w = L vec)."""
        gathered = (
            off_ck.join(vec.select("grp", F.col("r").alias("c"), F.col(col).alias("_x")), ["grp", "c"])
            .groupBy("grp", "r")
            .agg(F.sum(F.col("v") * F.col("_x")).alias("_g"))
        )
        return (
            vec.join(diag_ck, ["grp", "r"])
            .join(gathered, ["grp", "r"], "left")
            .select("grp", "r", *[c for c in vec.columns if c not in ("grp", "r")],
                    (F.col("d") * F.col(col) + F.coalesce("_g", F.lit(0.0))).alias("_w"))
        )

    z = (
        state0.join(ridmap, ["grp", "vid"])
        .select("grp", "r", F.col("q").alias("z"))
        .localCheckpoint(eager=True)
    )
    groups = sorted(sizes)
    grammian = bool(opts.rsb_mg_grammian)
    zbasis, gram_M = None, {}

    f = z
    for pss in range(max(1, opts.rsb_max_passes)):
        # ---- project(): PCG solve of L x = z on 1⊥ (ref fiedler.c:96-186).
        #
        # Collect discipline (Lanczos parity): ONE _group_scalars per
        # sequential dependency, TWO per iteration total, matching the
        # two reductions CG fundamentally needs (alpha's p·Lp before the
        # step, beta's r·z after the new preconditioner apply).
        # Everything else is fused into those two aggregates:
        # - the ortho_mean mean rides the rz aggregate: with zp the RAW
        #   preconditioner output, Σrv·(zp−mu) = Σrv·zp − mu·Σrv, and the
        #   centering itself is applied lazily via the attached mu scalar;
        # - the convergence ‖r‖² uses the CG recurrence
        #   rr' = rr − 2α·Σrv·Lp + α²·Σ(Lp)² (terms from the alpha
        #   aggregate; clamped at 0), re-synced to the exact Σrv² carried
        #   by the beta aggregate every surviving iteration — so drift
        #   never exceeds one step and the break happens BEFORE paying
        #   the next V-cycle (ref fiedler.c's rtr check placement).
        st = z.select("grp", "r", F.col("z").alias("b"))
        st = st.withColumn("x", F.lit(0.0)).withColumn("rv", F.col("b"))
        zp = mg_vcycle(h, st.select("grp", "r", F.col("rv").alias("x")))
        st = st.join(zp, ["grp", "r"]).withColumnRenamed("z", "zp")
        sc0 = _group_scalars(
            st,
            {
                "rr": F.sum(F.col("rv") ** 2),
                "s_zp": F.sum("zp"),
                "n": F.count(F.lit(1)),
                "rvzp": F.sum(F.col("rv") * F.col("zp")),
                "s_rv": F.sum("rv"),
            },
        )
        mu0 = {g: (sc0[g]["s_zp"] / sc0[g]["n"] if sc0[g]["n"] else 0.0) for g in groups}
        rtol = {g: sc0[g]["rr"] * tol * tol for g in groups}
        rz1 = {g: sc0[g]["rvzp"] - mu0[g] * sc0[g]["s_rv"] for g in groups}
        rr1 = {g: sc0[g]["rr"] for g in groups}
        st, scm = _attach_group_scalars(
            st, {"mu": mu0}, threshold=opts.group_scalar_broadcast_threshold
        )
        zp_c = F.col("zp") - scm["mu"]
        st = _hard_truncate(
            st.select("grp", "r", "b", "x", "rv", zp_c.alias("zp"), zp_c.alias("p"))
        )
        iters = 0
        for it in range(miter):
            stw = lap_apply(st, "p")
            sca_red = _group_scalars(
                stw,
                {
                    "pw": F.sum(F.col("p") * F.col("_w")),
                    "rw": F.sum(F.col("rv") * F.col("_w")),
                    "ww": F.sum(F.col("_w") ** 2),
                },
            )
            alpha = {
                g: (rz1[g] / sca_red[g]["pw"] if abs(sca_red[g]["pw"]) > _EPS else 0.0)
                for g in groups
            }
            rr_rec = {
                g: max(
                    0.0,
                    rr1[g]
                    - 2.0 * alpha[g] * sca_red[g]["rw"]
                    + alpha[g] * alpha[g] * sca_red[g]["ww"],
                )
                for g in groups
            }
            stw, sca = _attach_group_scalars(
                stw, {"alpha": alpha}, threshold=opts.group_scalar_broadcast_threshold
            )
            a_col = sca["alpha"]
            st = stw.select(
                "grp", "r", "b", "zp",
                (F.col("x") + a_col * F.col("p")).alias("x"),
                (F.col("rv") - a_col * F.col("_w")).alias("rv"),
                "p",
            )
            st = _hard_truncate(st)
            iters = it + 1
            rr1 = rr_rec
            if all(rr_rec[g] < rtol[g] or math.sqrt(rr_rec[g]) < tol for g in groups):
                break
            if it + 1 >= miter:
                # the rest of the body only prepares the NEXT direction
                # (zp, beta, p) — on the final fixed-step iteration that
                # is a full V-cycle + a 6-term aggregate + an eager
                # checkpoint whose outputs are never consumed (only
                # st.x survives the loop)
                break
            zp_new = mg_vcycle(h, st.select("grp", "r", F.col("rv").alias("x")))
            st = (
                st.withColumnRenamed("zp", "zp0")
                .join(zp_new.withColumnRenamed("z", "zp"), ["grp", "r"])
            )
            sc = _group_scalars(
                st,
                {
                    "rr": F.sum(F.col("rv") ** 2),
                    "s_zp": F.sum("zp"),
                    "n": F.count(F.lit(1)),
                    "s_rv": F.sum("rv"),
                    "rvzp": F.sum(F.col("rv") * F.col("zp")),
                    "rvzp0": F.sum(F.col("rv") * F.col("zp0")),
                },
            )
            mu = {g: (sc[g]["s_zp"] / sc[g]["n"] if sc[g]["n"] else 0.0) for g in groups}
            rz_new = {g: sc[g]["rvzp"] - mu[g] * sc[g]["s_rv"] for g in groups}
            rz2 = {g: rz_new[g] - sc[g]["rvzp0"] for g in groups}
            beta = {g: (rz2[g] / rz1[g] if abs(rz1[g]) > _EPS else 0.0) for g in groups}
            rz1 = rz_new
            rr1 = {g: sc[g]["rr"] for g in groups}  # exact re-sync of the recurrence
            st, scb = _attach_group_scalars(
                st,
                {"beta": beta, "mu": mu},
                threshold=opts.group_scalar_broadcast_threshold,
            )
            zp_c = F.col("zp") - scb["mu"]
            st = st.select(
                "grp", "r", "b", "x", "rv", zp_c.alias("zp"),
                (zp_c + scb["beta"] * F.col("p")).alias("p"),
            ).localCheckpoint(eager=True)

        # ---- outer update: ortho, normalize (ref fiedler.c:231-247).
        # Mean and norm fused into one aggregate: Σ(y−μ)² = Σy² − n·μ²
        # (clamped at 0 — y is near-centered already, the CG step adds
        # centered directions, so the cancellation risk is nil). The
        # final _ortho_mean is the safety re-centering against float
        # drift of that near-centeredness.
        y = st.select("grp", "r", F.col("x").alias("y"))
        scy = _group_scalars(
            y,
            {"s_y": F.sum("y"), "n": F.count(F.lit(1)), "yy": F.sum(F.col("y") ** 2)},
        )
        mu_y = {g: (v["s_y"] / v["n"] if v["n"] else 0.0) for g, v in scy.items()}
        nn = {g: max(0.0, v["yy"] - v["n"] * mu_y[g] ** 2) for g, v in scy.items()}
        nrm_d = {g: (math.sqrt(v) if v > _EPS else 1.0) for g, v in nn.items()}
        y, scn = _attach_group_scalars(
            y,
            {"mu": mu_y, "nrm": nrm_d},
            threshold=opts.group_scalar_broadcast_threshold,
        )
        z = y.select("grp", "r", ((F.col("y") - scn["mu"]) / scn["nrm"]).alias("z"))
        z = _hard_truncate(_ortho_mean(z, "z"))
        f = z
        if iters <= 1:
            break
        if grammian and pss + 1 < max(1, opts.rsb_max_passes):
            # Rayleigh–Ritz refinement of the next pass's initial vector
            # (ref fiedler.c:250-305, rsb_mg_grammian=1). The reference
            # runs the block on every pass including the last; refining
            # only when another pass follows is output-identical (the
            # refined z is consumed ONLY as the next project() input —
            # inverse() returns the solve output y, not z).
            z, zbasis, gram_M = _grammian_refine(lap_apply, z, zbasis, gram_M, groups)

    # back to vids, unit-norm per group
    out = f.join(ridmap, ["grp", "r"]).select("vid", "grp", F.col("z").alias("fiedler"))
    nrm = _group_scalars(out, {"nn": F.sum(F.col("fiedler") ** 2)})
    nrm_d = {g: (math.sqrt(v["nn"]) if v["nn"] > _EPS else 1.0) for g, v in nrm.items()}
    out, scn = _attach_group_scalars(
        out, {"nrm": nrm_d}, threshold=opts.group_scalar_broadcast_threshold
    )
    return out.select(
        "vid", "grp", (F.col("fiedler") / scn["nrm"]).alias("fiedler")
    ).localCheckpoint(eager=True)


def _grammian_refine(lap_apply, z: DataFrame, zbasis, gram_M: dict, groups):
    """Rayleigh–Ritz (grammian) refinement between inverse-iteration
    passes (ref fiedler.c:250-305, ``rsb_mg_grammian``):

    keep an orthonormal basis Z of the iterates (Gram-Schmidt the new z
    against Z, normalize, append — ref :253-280), form M = Zᵀ L Z (ref
    :281-293), take M's smallest eigenvector v serially on the driver
    (the ``inv_power_serial`` analogue — numpy eigh here, same eigenpair
    as the reference's serial inverse power iteration, like the
    TQLI↔eigh swap on the Lanczos path), and restart from z = Z·v
    (ref :296-303).

    Distributed form: the basis lives as ONE array column `zs` on the
    (grp, r) vector table (the Lanczos-qs pattern); ⟨Z_j, z⟩ and the
    new M column come from posexplode aggregations (one tiny row per
    basis index per group). M is built INCREMENTALLY — the reference
    recomputes all N² entries with N Laplacian applies per pass; old
    basis columns never change, so one apply (the new column) plus one
    aggregation reproduces the same matrix.
    """
    if zbasis is None:
        zbasis = z.select("grp", "r", F.array("z").alias("zs")).localCheckpoint(eager=True)
        w = lap_apply(z, "z")
        m00 = _group_scalars(w, {"m": F.sum(F.col("z") * F.col("_w"))})
        gram_M = {g: np.array([[m00.get(g, {"m": 0.0})["m"]]]) for g in groups}
        return z, zbasis, gram_M
    zb = zbasis.join(z, ["grp", "r"]).localCheckpoint(eager=True)
    # rhs_j = <Z_j, z> per group (ref :256-262)
    pe = zb.select("grp", "z", F.posexplode("zs").alias("j", "zj"))
    rhs: dict[int, list[float]] = {g: [0.0] * gram_M[g].shape[0] for g in groups}
    for r in pe.groupBy("grp", "j").agg(F.sum(F.col("zj") * F.col("z")).alias("v")).collect():
        rhs[int(r["grp"])][int(r["j"])] = float(r["v"] or 0.0)
    zb, scr = _attach_group_scalars(zb, arrays={"rhs": rhs})
    proj = F.aggregate(
        F.zip_with("zs", scr["rhs"], lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    zo = zb.withColumn("zo", F.col("z") - proj)
    nn = _group_scalars(zo, {"nn": F.sum(F.col("zo") ** 2)})
    # per-group guard (mirrors np_inverse_fiedler's nn > 1e-20 branch):
    # a group whose iterate is already in span(Z) keeps its z/basis/M
    # UNCHANGED — appending its near-zero residual would give M a ~zero
    # column whose ~0 eigenvalue becomes the selected smallest pair and
    # the restart vector collapses to noise. Only `live` groups append.
    live = sorted(g for g, v in nn.items() if v["nn"] > 1e-20)
    if not live:
        # iterate already in span(Z) everywhere — basis complete, keep z
        return z, zbasis, gram_M
    dead = sorted(set(groups) - set(live))
    nrm_d = {g: math.sqrt(nn[g]["nn"]) for g in live}
    zhat = zo.filter(F.col("grp").isin(live)).select(
        "grp", "r", "zs", (F.col("zo") / _lit_map(nrm_d)[F.col("grp")]).alias("zh")
    )
    appended = zhat.select("grp", "r", F.concat("zs", F.array("zh")).alias("zs"))
    if dead:
        appended = appended.union(zbasis.filter(F.col("grp").isin(dead)))
    zbasis = appended.localCheckpoint(eager=True)
    # extend live groups' M with the new column: w = L ẑ,
    # M[k,N] = <Z_k, w> (ref :281-293)
    wz = lap_apply(zhat.select("grp", "r", "zh"), "zh")
    pe2 = (
        wz.select("grp", "r", "_w")
        .join(zbasis, ["grp", "r"])
        .select("grp", "_w", F.posexplode("zs").alias("k", "zk"))
    )
    mcol: dict[int, dict[int, float]] = {g: {} for g in live}
    for r in pe2.groupBy("grp", "k").agg(F.sum(F.col("zk") * F.col("_w")).alias("m")).collect():
        mcol[int(r["grp"])][int(r["k"])] = float(r["m"] or 0.0)
    v_of = {}
    for g in live:
        M = gram_M[g]
        n_old = M.shape[0]
        M2 = np.zeros((n_old + 1, n_old + 1))
        M2[:n_old, :n_old] = M
        for k in range(n_old + 1):
            M2[k, n_old] = M2[n_old, k] = mcol[g].get(k, 0.0)
        gram_M[g] = M2
        _, vecs = np.linalg.eigh(M2)
        v_of[g] = [float(x) for x in vecs[:, 0]]
    # z = Z·v for live groups (ref :296-303), re-deflated against ones;
    # dead groups carry their previous z through untouched
    zb_live, scv = _attach_group_scalars(
        zbasis.filter(F.col("grp").isin(live)), arrays={"v": v_of}
    )
    zdot = F.aggregate(
        F.zip_with("zs", scv["v"], lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    z_new = _ortho_mean(zb_live.select("grp", "r", zdot.alias("z")), "z")
    if dead:
        z_new = z_new.union(z.filter(F.col("grp").isin(dead)).select("grp", "r", "z"))
    z_new = z_new.localCheckpoint(eager=True)
    return z_new, zbasis, gram_M


def _fresh_state(st: DataFrame) -> DataFrame:
    """Attach the per-iteration bookkeeping columns for the
    DEFERRED-NORMALIZATION Lanczos: u (the CURRENT basis vector, held
    UNNORMALIZED — its norm is measured exactly in the next iteration's
    single reduction), qprev (previous normalized vector), qs (the
    accumulating NORMALIZED Krylov basis as ONE array column — replaces
    the list-of-m-DataFrames basis, bounding memory to a single
    vertex-state table and killing the m×P-task union at recombine
    time). No carried beta column: each iteration's beta IS ‖u‖,
    measured directly."""
    return (
        st.withColumnRenamed("q", "u")
        .withColumn("qprev", F.lit(0.0))
        .withColumn("qs", F.array().cast("array<double>"))
    )


def _lanczos_pass(e, state, sizes, opts):
    """Deferred-normalization Lanczos: the basis vector u is carried
    UNNORMALIZED, and each iteration's single reduction measures its
    norm β = ‖u‖ DIRECTLY (Σu²) alongside the Rayleigh α = ⟨Lu,u⟩/⟨u,u⟩
    and the ones-deflation mean.

    Why not the one-pass identity β² = ‖w‖² − α² − n·μ² (round 1-2):
    once a Ritz pair converges, finite-precision Lanczos loses basis
    orthogonality (the classic Paige phenomenon) and the identity's
    assumptions (q unit, w ⟂ basis) break MATERIALLY — the computed β
    then diverges from the true ‖w−αq−μ‖, each wrongly-scaled q
    compounds, and the tridiagonal turns garbage. Measured failure: on
    a 48×32 grid the row-major init is y-dominated, the y-subspace
    exhausts at iter ~15, and the identity path converged to the WRONG
    eigenvector (the y-mode, corr 0.0 against the true Fiedler vector)
    — silently, with unit norm and perfect-looking balance. Directly-
    measured norms keep every stored q genuinely unit and the recurrence
    self-stabilizes (verified: corr 1.0 at m=50 on the same grid, both
    in numpy simulation and in this engine).

    Why no in-pass convergence exit (probed round 4, rejected): the
    reference stops a pass at rnorm < rtol (ref fiedler.c:500-504), and
    the driver-side analogue here would be the Ritz residual bound
    β·|y_last| from the accumulated tridiagonal (zero extra jobs). But
    that bound certifies convergence to SOME eigenpair, not to the
    smallest: on an 8×8 grid it fired at iteration 4 inside an invariant
    init subspace and returned a non-Fiedler mode (maxerr 0.14) — the
    exact subspace-transition failure the deferred-normalization design
    exists to survive (it escapes via rounding noise given enough
    iterations). On the webgraph bench the bound never fired in 60
    iterations anyway (clustered small eigenvalues). Risk without
    benefit, so the pass runs its full budget and convergence is judged
    by the TRUE residual gate between passes (`_residuals`).

    Still ONE SpMV + ONE scalar-reduction collect per iteration — the
    norm measurement replaces the identity at zero extra jobs."""
    groups = sorted(sizes)
    alphas: dict[int, list[float]] = {g: [] for g in groups}
    betas: dict[int, list[float]] = {g: [] for g in groups}
    updates: dict[int, int] = {g: 0 for g in groups}
    active = {g: sizes[g] > 2 for g in groups}
    # noise floor for Krylov exhaustion: u_next's entries carry rounding
    # ~eps·‖v‖/β from the update; scale[g] tracks ‖v‖/β of the PREVIOUS
    # iteration so β below 1e-12·scale is noise, not a direction
    scale = {g: 0.0 for g in groups}
    miter = min(opts.rsb_max_iter, max(sizes.values()))
    state = state.localCheckpoint(eager=True)
    # NOTE: in-loop checkpoints below are LAZY — the very next groupBy
    # collect materializes them, saving one job per iteration

    for j in range(miter):
        if not any(active.values()):
            break
        # _Lq = L·u. Checkpoint the SpMV RESULT (lazily — the very next
        # reduction job materializes it), and derive the next state as a
        # NARROW projection over those persisted blocks. Round 5
        # checkpointed the post-update state instead, so every iteration's
        # gather-scatter executed TWICE: once under this reduction's
        # collect, and again when the next iteration materialized the
        # state checkpoint (separate actions plan separate exchanges —
        # guide §2.4's "remove shuffles outright", here a whole
        # duplicated shuffle pair per iteration).
        st = _spmv(e, state, "u").localCheckpoint(eager=False)
        # ONE reduction per iteration (the single comm_allreduce analogue)
        a_rows = {
            r["grp"]: r
            for r in st.groupBy("grp")
            .agg(
                F.sum(F.col("u") ** 2).alias("s1"),
                F.sum(F.col("_Lq") * F.col("u")).alias("s2"),
                F.sum("_Lq").alias("s3"),
                F.sum("u").alias("su"),
                F.sum(F.col("_Lq") ** 2).alias("s4"),
                F.count("*").alias("n"),
            )
            .collect()
        }
        alpha_d, beta_d, mu_d, upd_d = {}, {}, {}, {}
        for g in groups:
            r = a_rows[g]
            s1 = float(r["s1"] or 0.0)
            b = math.sqrt(s1) if s1 > 0 else 0.0
            alive = (
                active[g]
                and b > 1e-10
                and b > 1e-12 * scale[g]
                and len(alphas[g]) < sizes[g]
            )
            if alive:
                a = float(r["s2"] or 0.0) / s1
                mu = (float(r["s3"] or 0.0) - a * float(r["su"] or 0.0)) / (b * r["n"])
                alphas[g].append(a)
                if updates[g] > 0:
                    betas[g].append(b)
                updates[g] += 1
                scale[g] = math.sqrt(float(r["s4"] or 0.0)) / b
                alpha_d[g], beta_d[g], mu_d[g], upd_d[g] = a, b, mu, 1.0
            else:
                active[g] = False
                alpha_d[g], beta_d[g], mu_d[g], upd_d[g] = 0.0, 1.0, 0.0, 0.0
        # per-group scalars enter the next plan as literal-map lookups
        # (pure codegen, no broadcast-join round-trip per iteration — the
        # comm_allreduce result baked in like the reference's rank-local
        # arrays, ref fiedler.c:473-506) or, past the group-count
        # threshold, as ONE broadcast-joined scalars DF (plan size flat
        # at deep RSB cuts) — see _attach_group_scalars
        st, sc = _attach_group_scalars(
            st,
            {"alpha": alpha_d, "beta": beta_d, "mu": mu_d, "upd": upd_d},
            threshold=opts.group_scalar_broadcast_threshold,
        )
        updc = sc["upd"] > 0.5
        b_col = sc["beta"]
        new_q = F.col("u") / b_col  # normalized current vector
        u_next = (
            (F.col("_Lq") - sc["alpha"] * F.col("u")) / b_col
            - b_col * F.col("qprev")
            - sc["mu"]
        )
        # no checkpoint here: st IS the iteration's persisted table, and
        # this projection over its blocks is recomputed narrowly (no
        # shuffle) wherever the next iteration's plan consumes it
        state = st.select(
            "vid",
            "grp",
            "deg",
            F.when(updc, u_next).otherwise(F.col("u")).alias("u"),
            F.when(updc, new_q).otherwise(F.col("qprev")).alias("qprev"),
            F.when(updc, F.concat(F.col("qs"), F.array(new_q))).otherwise(F.col("qs")).alias("qs"),
        )
    return state, alphas, betas, updates


def _tridiag_small_eig(alpha: list[float], beta: list[float]) -> tuple[float, np.ndarray]:
    """Smallest eigenpair of the m×m tridiagonal (driver-side numpy —
    the TQLI analogue, ref fiedler.c:328-432,537)."""
    m = len(alpha)
    if m == 0:
        return 0.0, np.zeros(0)
    T = np.diag(np.asarray(alpha, dtype=np.float64))
    for i in range(m - 1):
        T[i, i + 1] = T[i + 1, i] = beta[i]
    vals, vecs = np.linalg.eigh(T)
    return float(vals[0]), vecs[:, 0]


def _recombine(spark, state, alphas, betas, sizes, updates, opts=None) -> DataFrame:
    """fiedler = Σ_j evec[j]·q_j per group (ref fiedler.c:513-561), then
    per-group unit normalization.

    The basis lives in state's `qs` array column, so recombination is one
    zip_with dot product against a per-group literal weight vector — no
    m-way union, no (m·partitions)-task stage, no per-vertex groupBy.

    Groups that never iterated (size ≤ 2, or an immediate-stop init)
    have an EMPTY basis; they fall back to the init vector itself (the
    `u` column still holds q₀ for them) — any unit ⟂1 vector is a valid
    split direction for a ≤2-vertex group."""
    weights = {}
    for g in sorted(sizes):
        a, b = alphas[g], betas[g][: max(0, len(alphas[g]) - 1)]
        qlen = updates.get(g, 0)  # qs holds q_0..q_{updates-1}
        if not a or qlen == 0:
            weights[g] = [1.0]
            continue
        _, u = _tridiag_small_eig(a, b)
        w = [float(x) for x in u]
        # len(w) == len(alphas) == qlen; pad defensively so zip_with
        # never null-pads
        weights[g] = (w + [0.0] * qlen)[:qlen]
    thr = opts.group_scalar_broadcast_threshold if opts is not None else None
    state, sc = _attach_group_scalars(state, arrays={"w": weights}, threshold=thr)
    dot = F.aggregate(
        F.zip_with("qs", sc["w"], lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    f = state.select(
        "vid",
        "grp",
        F.when(F.size("qs") > 0, dot).otherwise(F.col("u")).alias("f_raw"),
    )
    norms = f.groupBy("grp").agg(F.sqrt(F.sum(F.col("f_raw") ** 2)).alias("nrm")).collect()
    nmap = {
        int(r["grp"]): (float(r["nrm"]) if r["nrm"] and r["nrm"] > _EPS else 1.0)
        for r in norms
    }
    f, scn = _attach_group_scalars(f, {"nrm": nmap}, threshold=thr)
    return (
        f.select("vid", "grp", (F.col("f_raw") / scn["nrm"]).alias("fiedler"))
        .localCheckpoint(eager=True)
    )


def _residuals(e, base, f_df) -> dict[int, float]:
    """Per-group ||L f − λ f||₂ with λ = Rayleigh quotient fᵀLf (f unit).
    The convergence gate of ref check_rsb_partition (src/rsb.c:61-111).
    Degrees come from the solve's cached `base` (vid, grp, deg)."""
    st = f_df.select("vid", "grp", F.col("fiedler").alias("q")).join(
        base.select("vid", "deg"), "vid"
    )
    lf = _spmv(e, st, "q")
    rows = (
        lf.groupBy("grp")
        .agg(
            F.sum(F.col("_Lq") * F.col("q")).alias("lam"),
            F.sum(F.col("_Lq") ** 2).alias("ll"),
        )
        .collect()
    )
    out = {}
    for r in rows:
        lam = float(r["lam"] or 0.0)
        ll = float(r["ll"] or 0.0)
        # ||Lf - lam f||^2 = ll - 2 lam^2 + lam^2 = ll - lam^2  (f unit norm)
        out[int(r["grp"])] = math.sqrt(max(0.0, ll - lam * lam))
    return out
