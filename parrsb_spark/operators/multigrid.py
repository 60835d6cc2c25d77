"""Algebraic multigrid preconditioner — D10 (setup) + D11 (V-cycle).

Reference: `mg_setup` aggregates consecutive row ids in blocks of
`factor` and forms the coarse (Galerkin) operator Mc = JᵀMJ by summing
fine entries per coarse (row, col) pair (ref /root/reference/src/
multigrid.c:119-238); `mg_vcycle` runs npres=3 Chebyshev-weighted
Jacobi pre-smoothing steps per level on the way down, a trivial solve
at the n==1 coarsest level, and an over-relaxed (1.333) prolongation
correction on the way up (ref src/multigrid.c:243-318).

Spark-first redesign:
- A level's operator is an edge-list DataFrame (grp, r, c, v) plus a
  diagonal DataFrame (grp, r, d); piecewise-constant aggregation makes
  the Galerkin product a single groupBy-sum — no general SpGEMM needed
  (the reference's sparse_gemm is only used by its grammian option).
- All bisection groups share each level (grp column), so one smoothing
  sweep serves every group — same grouped design as the Lanczos loop.
- Coarse levels shrink geometrically; once the total size drops under
  `tail_threshold` the remaining hierarchy is collected ONCE at setup
  and the V-cycle tail runs in driver numpy with the same arithmetic
  (the reference ends distributed too: its coarsest level is 1 row).
  At 10^12-vertex scale the first ~log_factor(N/threshold) levels stay
  distributed; the tail collect is O(threshold) rows.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.session import local_frame

NPRES = 3  # pre-smoothing steps (ref multigrid.c:211 npres=3)
OVER = 1.33333  # prolongation over-relaxation (ref multigrid.c:213)


def sigma_cheb(k: int, n: int, lmin: float = 1.0, lmax: float = 2.0) -> float:
    """Chebyshev smoothing weight (ref multigrid.c:26-31)."""
    k = (k - 1) % n + 1
    theta = math.pi * (k - 0.5) / n
    lamk = lmin + 0.5 * (lmax - lmin) * (math.cos(theta) + 1)
    return 1.0 / lamk


def _coarse_id(col, factor: int):
    """1-based block aggregation: rc = ceil(r / factor) (ref :157)."""
    return ((col + factor - 1) / factor).cast("long")


class MGHierarchy:
    """levels[i] = dict(off=(grp,r,c,v) DF, diag=(grp,r,d) DF, n=row count).
    tail = dict(grp -> list of (A_dense, diag) numpy levels down to n==1)."""

    def __init__(self, levels, tail, factor):
        self.levels = levels
        self.tail = tail
        self.factor = factor


def mg_setup(
    lap_off: DataFrame,
    lap_diag: DataFrame,
    factor: int = 2,
    tail_threshold: int = 2000,
) -> MGHierarchy:
    """Build the aggregation hierarchy. lap_off = (grp, r, c, v) strictly
    off-diagonal Laplacian entries with CONTIGUOUS 1-based r,c per group;
    lap_diag = (grp, r, d)."""
    spark = lap_off.sparkSession
    levels = []
    off = lap_off.localCheckpoint(eager=True)
    diag = lap_diag.localCheckpoint(eager=True)
    sizes = {r["grp"]: r["n"] for r in diag.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    total = sum(sizes.values())

    while total > tail_threshold and max(sizes.values() or [1]) > 1:
        levels.append({"off": off, "diag": diag, "sizes": dict(sizes)})
        # Galerkin coarse operator: sum fine entries per coarse (r, c)
        entries = off.select("grp", "r", "c", "v").union(
            diag.select("grp", "r", F.col("r").alias("c"), F.col("d").alias("v"))
        )
        coarse = (
            entries.groupBy(
                "grp",
                _coarse_id(F.col("r"), factor).alias("rc"),
                _coarse_id(F.col("c"), factor).alias("cc"),
            )
            .agg(F.sum("v").alias("v"))
        )
        off = (
            coarse.filter(F.col("rc") != F.col("cc"))
            .select("grp", F.col("rc").alias("r"), F.col("cc").alias("c"), "v")
            .localCheckpoint(eager=True)
        )
        diag = (
            coarse.filter(F.col("rc") == F.col("cc"))
            .select("grp", F.col("rc").alias("r"), F.col("v").alias("d"))
            .localCheckpoint(eager=True)
        )
        sizes = {g: (n + factor - 1) // factor for g, n in sizes.items()}
        total = sum(sizes.values())

    # numpy tail: collect the remaining hierarchy once
    tail = {}
    rows_off = off.collect()
    rows_diag = diag.collect()
    by_grp: dict[int, dict] = {}
    for r in rows_diag:
        by_grp.setdefault(int(r["grp"]), {"diag": {}, "off": []})["diag"][int(r["r"])] = float(r["d"])
    for r in rows_off:
        by_grp.setdefault(int(r["grp"]), {"diag": {}, "off": []})["off"].append(
            (int(r["r"]), int(r["c"]), float(r["v"]))
        )
    for g, dat in by_grp.items():
        n = max(dat["diag"], default=0)
        A = np.zeros((n, n))
        for rr, dd in dat["diag"].items():
            A[rr - 1, rr - 1] = dd
        for rr, cc, vv in dat["off"]:
            A[rr - 1, cc - 1] = vv
        tail[g] = _np_tail_levels(A, factor)
    return MGHierarchy(levels, tail, factor)


def _np_tail_levels(A: np.ndarray, factor: int) -> list[np.ndarray]:
    """Continue block aggregation in numpy down to n == 1."""
    out = [A]
    while A.shape[0] > 1:
        n = A.shape[0]
        nc = (n + factor - 1) // factor
        J = np.zeros((n, nc))
        for i in range(n):
            J[i, i // factor] = 1.0
        A = J.T @ A @ J
        out.append(A)
    return out


def _np_vcycle(levels: list[np.ndarray], rhs: np.ndarray) -> np.ndarray:
    """Driver-side V-cycle with the reference arithmetic
    (ref mg_vcycle, multigrid.c:243-318)."""
    us = []
    r = rhs.copy()
    for li in range(len(levels) - 1):
        A = levels[li]
        d = np.diag(A).copy()
        d[d == 0] = 1.0
        sigma = sigma_cheb(1, NPRES + 1)
        u = sigma * r / d
        r = r - A @ u
        for i in range(1, NPRES):
            sigma = sigma_cheb(i + 1, NPRES + 1)
            s = sigma * r / d
            u = u + s
            r = r - A @ s
        us.append(u)
        # restrict: sum within aggregates
        n = len(r)
        nc = levels[li + 1].shape[0]
        factor = max(1, math.ceil(n / nc))
        rc = np.zeros(nc)
        for i in range(n):
            rc[min(i // factor, nc - 1)] += r[i]
        r = rc
    # coarsest (n == 1)
    A = levels[-1]
    e = np.zeros(1)
    if abs(A[0, 0]) > 1e-6:
        e[0] = r[0] / A[0, 0]
    # up sweep
    for li in range(len(levels) - 2, -1, -1):
        n = us[li].shape[0]
        nc = e.shape[0]
        factor = max(1, math.ceil(n / nc))
        ef = np.array([e[min(i // factor, nc - 1)] for i in range(n)])
        e = OVER * ef + us[li]
    return e


def np_inverse_fiedler(
    A: np.ndarray,
    z0: np.ndarray,
    miter: int,
    mpass: int,
    tol: float,
    factor: int = 2,
    grammian: bool = False,
) -> np.ndarray:
    """Serial inverse power iteration with MG-preconditioned projected CG —
    the reference arithmetic verbatim (ref inverse()/project(),
    src/fiedler.c:96-321), used as the per-group base case when a group
    fits on the driver (the analogue of the reference's serial TQLI at
    the bottom of the Lanczos path) and as the oracle for the
    distributed PCG. `grammian=True` adds the Rayleigh–Ritz iterate
    refinement between passes (ref fiedler.c:250-305) with the exact
    placement of the distributed `fiedler._grammian_refine` (skipped
    after the final pass — output-identical, the refined z only feeds
    the next pass's solve)."""
    levels = _np_tail_levels(A, factor)
    n = A.shape[0]
    z = z0.copy()
    Z: list = []
    M = None

    def ortho(v):
        return v - v.mean()

    for pss in range(max(1, mpass)):
        # project(): PCG solve A x = z on 1-perp
        x = np.zeros(n)
        r = z.copy()
        rr = float(r @ r)
        rtol = rr * tol * tol
        zp = ortho(_np_vcycle(levels, r))
        rz1 = float(r @ zp)
        p = zp.copy()
        iters = 0
        for _i in range(miter):
            w = A @ p
            pw = float(p @ w)
            if abs(pw) < 1e-300:
                break
            alpha = rz1 / pw
            x += alpha * p
            r -= alpha * w
            rr = float(r @ r)
            iters = _i + 1
            if rr < rtol or math.sqrt(rr) < tol:
                break
            zp0 = zp
            zp = ortho(_np_vcycle(levels, r))
            rzt = rz1
            rz1 = float(r @ zp)
            rz2 = float(r @ (zp - zp0))
            beta = rz2 / rzt if abs(rzt) > 1e-300 else 0.0
            p = zp + beta * p
        y = ortho(x)
        nrm = float(y @ y)
        z = y / math.sqrt(nrm) if nrm > 1e-300 else y
        z = ortho(z)
        if iters <= 1:
            break
        if grammian and pss + 1 < max(1, mpass):
            if not Z:
                Z = [z.copy()]
                M = np.array([[float(z @ (A @ z))]])
            else:
                rhs = [float(zj @ z) for zj in Z]
                zo = z.copy()
                for r_, zj in zip(rhs, Z):
                    zo -= r_ * zj
                nn = float(zo @ zo)
                if nn > 1e-20:
                    zh = zo / math.sqrt(nn)
                    Z.append(zh)
                    N = len(Z)
                    M2 = np.zeros((N, N))
                    M2[: N - 1, : N - 1] = M
                    w = A @ zh
                    for k in range(N):
                        M2[k, N - 1] = M2[N - 1, k] = float(Z[k] @ w)
                    M = M2
                    _, vecs = np.linalg.eigh(M)
                    znew = np.zeros(n)
                    for v_, zj in zip(vecs[:, 0], Z):
                        znew += v_ * zj
                    z = ortho(znew)
    return z


def mg_vcycle(h: MGHierarchy, r_df: DataFrame) -> DataFrame:
    """One V-cycle: r_df = (grp, r, x) residual at the finest level →
    returns (grp, r, z) the preconditioned correction. Distributed
    Chebyshev-Jacobi smoothing + restriction per level, numpy tail."""
    spark = r_df.sparkSession
    factor = h.factor
    saved = []  # (level, u_df, r_df-after-smoothing)
    cur = r_df.select("grp", "r", F.col("x").alias("rv"))
    for lvl in h.levels:
        off, diag = lvl["off"], lvl["diag"]

        def smooth_spmv(vec: DataFrame, col: str) -> DataFrame:
            """(A s): diag*s + Σ off(r,c) s(c); vec = (grp, r, <col>)."""
            gathered = (
                off.join(
                    vec.select("grp", F.col("r").alias("c"), F.col(col).alias("_s")),
                    ["grp", "c"],
                )
                .groupBy("grp", "r")
                .agg(F.sum(F.col("v") * F.col("_s")).alias("_offsum"))
            )
            return (
                vec.join(diag, ["grp", "r"])
                .join(gathered, ["grp", "r"], "left")
                .select(
                    "grp",
                    "r",
                    (F.col("d") * F.col(col) + F.coalesce("_offsum", F.lit(0.0))).alias("_As"),
                )
            )

        st = cur.join(diag, ["grp", "r"]).select(
            "grp", "r", "rv", F.when(F.col("d") != 0, F.col("d")).otherwise(F.lit(1.0)).alias("d")
        )
        sigma = sigma_cheb(1, NPRES + 1)
        st = st.withColumn("u", F.lit(sigma) * F.col("rv") / F.col("d"))
        As = smooth_spmv(st.select("grp", "r", F.col("u").alias("s")), "s")
        st = st.join(As, ["grp", "r"], "left").select(
            "grp", "r", "d", "u", (F.col("rv") - F.coalesce("_As", F.lit(0.0))).alias("rv")
        )
        for i in range(1, NPRES):
            sigma = sigma_cheb(i + 1, NPRES + 1)
            st = st.withColumn("s", F.lit(sigma) * F.col("rv") / F.col("d"))
            As = smooth_spmv(st.select("grp", "r", "s"), "s")
            st = (
                st.join(As, ["grp", "r"], "left")
                .select(
                    "grp",
                    "r",
                    "d",
                    (F.col("u") + F.col("s")).alias("u"),
                    (F.col("rv") - F.coalesce("_As", F.lit(0.0))).alias("rv"),
                )
            )
        # eager: each level's smoothed state is consumed twice (restrict
        # now, prolongation later) and the V-cycle output feeds a chained
        # CG iteration — materialize to keep caller plans flat
        st = st.localCheckpoint(eager=True)
        saved.append(st.select("grp", "r", "u"))
        # restrict residual
        cur = (
            st.groupBy("grp", _coarse_id(F.col("r"), factor).alias("r"))
            .agg(F.sum("rv").alias("rv"))
        )

    # numpy tail per group
    rows = cur.collect()
    by_grp: dict[int, dict[int, float]] = {}
    for r in rows:
        by_grp.setdefault(int(r["grp"]), {})[int(r["r"])] = float(r["rv"])
    corr_rows = []
    for g, levels_np in h.tail.items():
        n0 = levels_np[0].shape[0]
        rhs = np.zeros(n0)
        for rid, val in by_grp.get(g, {}).items():
            rhs[rid - 1] = val
        e = _np_vcycle(levels_np, rhs)
        for i, val in enumerate(e):
            corr_rows.append((g, i + 1, float(val)))
    e_df = local_frame(spark, corr_rows, "grp long, r long, e double")

    # up sweep through the distributed levels: e_fine = over·J e_coarse + u
    for st_u in reversed(saved):
        e_df = (
            st_u.withColumn("rc", _coarse_id(F.col("r"), factor))
            .join(e_df.withColumnRenamed("r", "rc"), ["grp", "rc"], "left")
            .select(
                "grp",
                "r",
                (F.lit(OVER) * F.coalesce("e", F.lit(0.0)) + F.col("u")).alias("e"),
            )
        )
    return e_df.select("grp", "r", F.col("e").alias("z")).localCheckpoint(eager=True)
