"""Approximate Neighborhood Function (ANF) — Flajolet-Martin sketches
merged with bit_or, the classic webgraph reachability/diameter kernel
(Palmer-Gibbons-Faloutsos ANF, KDD'02; Boldi-Rosa-Vigna HyperANF).

What it computes: for every vertex v and hop h, a sketch of
|ball(v, h)| — the number of vertices within h hops — from which the
per-hop neighborhood function N(h) = Σ_v |ball(v, h)| and the
effective diameter (smallest h with N(h) ≥ q·N(∞)) follow. On a
Common-Crawl-scale webgraph this is THE way to measure reachability
and diameter: exact all-pairs BFS is Θ(V·E) and dead at 10¹² docs,
while the sketch pass is K fixed-point iterations of a bit_or
gather-scatter over the edge list.

The reference walks reachability one component at a time
(`comp_nil`'s frontier sweep, ref /root/reference/src/components.c);
this kernel is the all-sources generalization a webgraph needs, with
the frontier replaced by a mergeable sketch so every source runs
concurrently in one pass.

Scale design:
- each vertex carries `n_sketches` 64-bit FM masks (bigint columns,
  NOT arrays — whole-stage codegen keeps primitive longs in registers);
  one hop = ONE src-keyed equi-join + ONE groupBy(dst).agg(bit_or(...))
  — bit_or is associative+commutative, so every map task partial-
  aggregates before the shuffle and a 10^8-degree hub contributes one
  row per map task, the same hub-safe reduce shape as PageRank's
  salted sum and CC's min-agg.
- masks stay exactly 64 bits per sketch regardless of graph size
  (positions are geometric), so per-hop state is n_sketches longs per
  vertex — 32 bytes at the default 4 — and shuffle volume is flat in h.
- every arithmetic step (universal hash, trailing-zero bit position,
  OR-merge, least-zero-bit readout) is engine-portable integer math
  (see functions/hashing.py), so the DuckDB oracle replays the sketch
  BIT-IDENTICALLY — the distributed merge is checked exactly, not
  within a tolerance; only the final 2^(R/k)/0.77351 estimate is a
  float, and pytest checks it against exact BFS ball sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.hashing import HASH_SALT_A, HASH_SALT_B, MOD_P, MOD_X
from parrsb_spark.functions.loop import spmv_loop
from parrsb_spark.functions.spmv import symmetrize
from parrsb_spark.sources.edges import vertices_from_edges

# Magic constant from Flajolet-Martin: E[2^R] = phi * n with phi ≈ 0.77351.
FM_PHI = 0.77351
# Cap the geometric bit position well below bit 62 so mask+1 in the
# least-zero-bit readout can never touch the sign bit.
FM_MAX_POS = 40


def _fm_pos_sql(vid_expr: str, k: int) -> str:
    """Engine-portable SQL for the k-th FM bit position of a vertex id:
    trailing zeros of a universal hash, isolated as bit_count((h&-h)-1).
    Identical text runs in Spark SQL and DuckDB (see md5/minhash
    portability notes in functions/hashing.py)."""
    a, b = HASH_SALT_A[k], HASH_SALT_B[k]
    h = f"((({vid_expr}) % {MOD_X}) * {a} + {b}) % {MOD_P}"
    return f"least(bit_count((({h}) & -({h})) - 1), {FM_MAX_POS})"


def _fm_mask_sql(vid_expr: str, k: int) -> str:
    return f"(CAST(1 AS BIGINT) << ({_fm_pos_sql(vid_expr, k)}))"


def _lzb_sql(mask_expr: str) -> str:
    """Least-zero-bit position of a mask, as portable arithmetic:
    ~m == -m-1 (two's complement), (~m)&(m+1) isolates the lowest zero
    bit, bit_count(power_of_two - 1) is its index."""
    return f"bit_count((((-({mask_expr}) - 1) & (({mask_expr}) + 1))) - 1)"


def _fm_masks(g: DataFrame, cols: list[str]) -> DataFrame:
    """(vid, s0..s{k-1}) — every vertex's own FM bit per sketch."""
    masks = [F.expr(_fm_mask_sql("vid", k)).alias(c) for k, c in enumerate(cols)]
    return vertices_from_edges(g).select("vid", *masks)


def anf_masks(
    edges: DataFrame,
    n_hops: int = 6,
    n_sketches: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Runs exactly `n_hops` FM merge rounds and returns per-vertex
    sketches. With `directed=True` masks flow ALONG edge direction
    (src→dst, the PageRank gather direction), so mask(v) sketches the
    IN-ball — the set of pages that can reach v within h hops along
    links; the default symmetrized graph makes in-ball == ball.

    Returns per-vertex
    (vid, s0..s{k-1}, lzb_sum): the merged masks and the sum over
    sketches of each mask's least-zero-bit position (the integer
    sufficient statistic for the ball-size estimate). Converged rounds
    are no-ops (OR is idempotent), so the fixed count equals the fixed
    point for any graph with diameter ≤ n_hops — the contract the
    unrolled SQL oracle replays."""
    cols = [f"s{k}" for k in range(n_sketches)]
    with spmv_loop(edges if directed else symmetrize(edges), "src") as lp:
        g = lp.edges
        masks = _fm_masks(g, cols).localCheckpoint(eager=True)
        for _ in range(n_hops):
            nb = (
                g.join(masks.withColumnRenamed("vid", "src"), "src")
                .groupBy(F.col("dst").alias("vid"))
                .agg(*[F.bit_or(c).alias(f"o_{c}") for c in cols])
            )
            masks = masks.join(nb, "vid", "left").select(
                "vid",
                *[
                    (F.col(c).bitwiseOR(F.coalesce(F.col(f"o_{c}"), F.lit(0)))).alias(c)
                    for c in cols
                ],
            ).localCheckpoint(eager=True)
    lzb = sum(F.expr(_lzb_sql(c)) for c in cols)
    return masks.select("vid", *cols, lzb.cast("long").alias("lzb_sum"))


def ball_estimates(masks: DataFrame, n_sketches: int = 4) -> DataFrame:
    """(vid, ball_est) — FM estimate of |ball(v, n_hops)| from the
    merged masks: 2^(lzb_sum / k) / phi."""
    return masks.select(
        "vid",
        (F.pow(F.lit(2.0), F.col("lzb_sum") / float(n_sketches)) / FM_PHI).alias("ball_est"),
    )


def neighborhood_function(
    edges: DataFrame,
    max_hops: int = 8,
    n_sketches: int = 8,
    directed: bool = False,
) -> list[tuple[int, float]]:
    """[(h, N(h))] for h = 0..max_hops, where N(h) estimates
    Σ_v |ball(v, h)|. One cached edge scan; per-hop cost is one
    join + one bit_or groupBy + one sum collect (the comm_allreduce
    analogue — a bounded scalar per hop, not a hot-path collect)."""
    cols = [f"s{k}" for k in range(n_sketches)]

    def total(m: DataFrame) -> float:
        # Histogram-then-ordered-fold instead of F.sum of per-vertex
        # float terms: lzb_sum is a small integer (≤ 64·k), so the
        # groupBy is an EXACT integer histogram (order-free), and the
        # float reduction runs driver-side in ONE ascending-s order —
        # bitwise run-to-run deterministic, where a shuffled double sum
        # is not (the round-5 linkpred lesson). The collect is bounded
        # by the lzb range (~hundreds of rows), the same comm_allreduce
        # scale class as the per-hop scalar above.
        lzb = sum(F.expr(_lzb_sql(c)) for c in cols)
        hist = m.groupBy(lzb.cast("bigint").alias("s")).count().collect()
        acc = 0.0
        for s, cnt in sorted((r["s"], r["count"]) for r in hist):
            acc += cnt * 2.0 ** (s / float(n_sketches))
        return acc / FM_PHI

    with spmv_loop(edges if directed else symmetrize(edges), "src") as lp:
        g = lp.edges
        masks = _fm_masks(g, cols).localCheckpoint(eager=True)
        out = [(0, total(masks))]
        for h in range(1, max_hops + 1):
            nb = (
                g.join(masks.withColumnRenamed("vid", "src"), "src")
                .groupBy(F.col("dst").alias("vid"))
                .agg(*[F.bit_or(c).alias(f"o_{c}") for c in cols])
            )
            masks = masks.join(nb, "vid", "left").select(
                "vid",
                *[
                    (F.col(c).bitwiseOR(F.coalesce(F.col(f"o_{c}"), F.lit(0)))).alias(c)
                    for c in cols
                ],
            ).localCheckpoint(eager=True)
            out.append((h, total(masks)))
            if out[-1][1] <= out[-2][1] * (1.0 + 1e-12):
                break  # OR fixed point reached — sketch totals are monotone
    return out


def harmonic_centrality_estimates(
    edges: DataFrame,
    max_hops: int = 8,
    n_sketches: int = 8,
    directed: bool = False,
) -> DataFrame:
    """(vid, harmonic_est) — FM estimate of harmonic centrality
    H(v) = Σ_{u≠v} 1/d(u,v), the distance-based centrality that stays
    well-defined on disconnected webgraphs (Boldi-Vigna, "Axioms for
    Centrality"): per hop, the ball GROWTH |ball(v,h)| − |ball(v,h−1)|
    counts the vertices at distance exactly h, each weighted 1/h.
    Exact H(v) needs all-pairs BFS — Θ(V·E), dead at webgraph scale;
    the sketch pass is the same bit_or gather-scatter as anf_masks
    with a running per-vertex accumulator column (one extra float per
    vertex, still whole-stage-codegen friendly). With `directed=True`
    balls are in-balls (see anf_masks), giving the in-harmonic
    centrality — the link-authority variant."""
    cols = [f"s{k}" for k in range(n_sketches)]

    def est():
        lzb = sum(F.expr(_lzb_sql(c)) for c in cols)
        return F.pow(F.lit(2.0), lzb / float(n_sketches)) / FM_PHI

    with spmv_loop(edges if directed else symmetrize(edges), "src") as lp:
        g = lp.edges
        cur = _fm_masks(g, cols)
        cur = cur.select("*", est().alias("prev_est"), F.lit(0.0).alias("harmonic_est"))
        cur = cur.localCheckpoint(eager=True)
        for h in range(1, max_hops + 1):
            nb = (
                g.join(cur.select("vid", *cols).withColumnRenamed("vid", "src"), "src")
                .groupBy(F.col("dst").alias("vid"))
                .agg(*[F.bit_or(c).alias(f"o_{c}") for c in cols])
            )
            merged = cur.join(nb, "vid", "left").select(
                "vid",
                *[
                    (F.col(c).bitwiseOR(F.coalesce(F.col(f"o_{c}"), F.lit(0)))).alias(c)
                    for c in cols
                ],
                "prev_est",
                "harmonic_est",
            )
            cur = merged.select(
                "vid",
                *cols,
                est().alias("prev_est"),
                (
                    F.col("harmonic_est")
                    + F.greatest(est() - F.col("prev_est"), F.lit(0.0)) / float(h)
                ).alias("harmonic_est"),
            ).localCheckpoint(eager=True)
    return cur.select("vid", "harmonic_est")


def effective_diameter(nf: list[tuple[int, float]], q: float = 0.9) -> float:
    """Interpolated effective diameter from a neighborhood function:
    the smallest (fractional) h with N(h) ≥ q · N(h_max)."""
    target = q * nf[-1][1]
    prev_h, prev_n = nf[0]
    for h, n in nf:
        if n >= target:
            if h == prev_h or n == prev_n:
                return float(h)
            return prev_h + (target - prev_n) / (n - prev_n) * (h - prev_h)
        prev_h, prev_n = h, n
    return float(nf[-1][0])
