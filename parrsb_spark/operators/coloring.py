"""Distributed greedy graph coloring — two synchronous schedules.

`method="jp"` — Jones & Plassmann, "A parallel graph coloring
heuristic" (SIAM J. Sci. Comput. 1993): fix a pseudo-random total
order on the vertices; each round, every uncolored vertex that
precedes ALL its uncolored neighbours colors itself with the smallest
color not used by its neighbours. The parallel schedule computes
EXACTLY the sequential greedy coloring along the priority order — a
strong algorithm-level contract the tests replay with a 10-line
sequential reference. Its round count is the longest monotone path of
the priority orientation — measured >64 rounds on the dense sf0.01
co-purchase fixture (avg degree ~48), the documented liability at
webgraph scale.

`method="spec"` (default) — speculative coloring with conflict
retry (Gebremedhin & Manne, "Scalable parallel graph coloring
algorithms", Concurrency P&E 2000): each round EVERY uncolored
vertex tentatively takes the smallest color unused by its committed
neighbours; an edge whose endpoints picked the same tentative color
keeps only the smaller-priority endpoint (the loser retries next
round). A constant fraction commits per round in expectation —
measured: full convergence in 4 rounds on the same fixture where JP
needs >64 — at the cost of the schedule, not the sequential order,
defining the exact colors.

Both schedules are proper and greedy-bounded (color(v) ≤ degree(v));
both are bitwise partition-independent: every decision derives from
the exact-integer Knuth-hash total order struct(p, vid) (see mis.py),
so the DuckDB oracle unrolls the identical recurrence. Distributed
coloring is the classic scheduling primitive for dependent graph
updates (conflict-free Gauss-Seidel batches); the reference
serializes such sweeps over MPI ranks instead (smoother application,
ref /root/reference/src/multigrid.c:279-310) — coloring is the
graph-native parallelization, under the same synchronous
fixed-point-by-rounds discipline as the reference's min-label
component sweep (ref /root/reference/src/components.c:122-147).

Scale design:
- mex (minimum excluded color) is computed SET-WISE, hub-safely: the
  candidate colors of v are {0} ∪ {c+1 : c a distinct committed
  neighbour color}, mex = min candidate not present. Distinct-reduce,
  one anti-join, one combinable min — rows per vertex ≤ its distinct
  neighbour colors + 1, never a sequence explode over the degree
  (a 10^8-degree hub contributes ≤ #colors rows, not 10^8).
- conflict resolution ("spec") / eligibility ("jp") are ONE
  map-side-combinable min(struct) groupBy — no window funnel.
- the uncolored set and its live edge set only shrink; every loop
  checkpoint is `session.hard_truncate`, NOT plain localCheckpoint:
  the round's state cycles through ≥3 join branches, so carried
  origin-stats would compound their digit count ×3 per round and
  park the driver in BigInteger.multiply from round ~15 (measured —
  the pathology hard_truncate exists for).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.loop import counted_checkpoint, spmv_loop
from parrsb_spark.functions.spmv import symmetrize
from parrsb_spark.operators.mis import vertex_priority
from parrsb_spark.session import hard_truncate
from parrsb_spark.sources.edges import vertices_from_edges


def _mex(targets: DataFrame, nbr_colors: DataFrame) -> DataFrame:
    """(vid, color) — smallest color ≥ 0 not in the target's distinct
    neighbour-color set. `targets`: (vid); `nbr_colors`: (vid, color)
    distinct. Hub-safe: candidates are {0} ∪ {c+1}, one anti-join, one
    combinable min."""
    cand = targets.select("vid", F.lit(0).alias("cand")).unionAll(
        nbr_colors.select("vid", (F.col("color") + 1).alias("cand"))
    )
    return (
        cand.join(
            nbr_colors.select("vid", F.col("color").alias("cand")),
            ["vid", "cand"],
            "left_anti",
        )
        .groupBy("vid")
        .agg(F.min("cand").alias("color"))
    )


def greedy_coloring(
    edges: DataFrame,
    max_rounds: int = 24,
    method: str = "spec",
    priority_col: Column | None = None,
) -> DataFrame:
    """Returns (vid, color, round) over every vertex of the symmetrized
    graph; color = -1 if still uncolored when `max_rounds` ran out.
    Converged rounds are no-ops, so the fixed point equals running
    exactly `max_rounds` rounds — and when `max_rounds` is NOT enough,
    the output still exactly equals the `max_rounds`-round unrolling
    (the sssp-style any-round-bound oracle contract). Colors are
    0-based and ≤ degree(v) by the greedy bound."""
    if method not in ("spec", "jp"):
        raise ValueError(f"unknown coloring method {method!r}")
    p = priority_col if priority_col is not None else vertex_priority(F.col("vid"))
    und, n_und, _ = counted_checkpoint(
        vertices_from_edges(edges).select("vid", p.cast("bigint").alias("p"))
    )
    colored = None  # (vid, color, round)
    with spmv_loop(symmetrize(edges), "src") as lp:
        sym = lp.edges
        for r in range(1, max_rounds + 1):
            if n_und == 0:
                break
            if method == "jp":
                targets = hard_truncate(_jp_eligible(sym, und))
            else:
                targets = und.select("vid")
            # distinct committed-neighbour colors of each target
            committed = (
                colored.select(F.col("vid").alias("dst"), "color")
                if colored is not None
                else und.select(F.col("vid").alias("dst"), F.lit(0).alias("color")).limit(0)
            )
            present = (
                sym.join(targets.select(F.col("vid").alias("src")), "src")
                .join(committed, "dst")
                .select(F.col("src").alias("vid"), "color")
                .distinct()
            )
            # hard_truncate, not localCheckpoint: the round's state
            # cycles through colored -> present -> tentative -> commit
            # -> colored with ≥3 state branches multiplying in the
            # join-stats product, so carried sizeInBytes TRIPLES its
            # digit count per round — the compounding pathology
            # session.hard_truncate exists for (measured here: driver
            # hard-stuck in BigInteger.multiply from round ~15).
            tentative = hard_truncate(_mex(targets, present))
            if method == "spec":
                tentative = _resolve_conflicts(sym, und, tentative)
            commit = hard_truncate(
                tentative.select("vid", "color", F.lit(r).alias("round"))
            )
            colored = (
                commit if colored is None else hard_truncate(colored.unionAll(commit))
            )
            und, n_und, _ = counted_checkpoint(
                und.join(commit.select("vid"), "vid", "left_anti"), hard=True
            )
    leftover = und.select("vid", F.lit(-1).alias("color"), F.lit(-1).alias("round"))
    out = leftover if colored is None else colored.unionAll(leftover)
    return out.select("vid", "color", "round")


def _jp_eligible(sym: DataFrame, und: DataFrame) -> DataFrame:
    """(vid) — uncolored vertices that are the strict struct(p, vid)
    minimum among their uncolored neighbours (none -> eligible)."""
    live = sym.join(
        und.select(F.col("vid").alias("dst"), F.col("p").alias("pd")), "dst"
    ).join(und.select(F.col("vid").alias("src")), "src")
    mn = live.groupBy("src").agg(
        F.min(F.struct(F.col("pd").alias("p"), F.col("dst").alias("vid"))).alias("mn")
    )
    return (
        und.join(mn, und.vid == mn.src, "left")
        .filter(
            F.col("mn").isNull()
            | (F.struct(und.p.alias("p"), und.vid.alias("vid")) < F.col("mn"))
        )
        .select(und.vid)
    )


def _resolve_conflicts(
    sym: DataFrame, und: DataFrame, tentative: DataFrame
) -> DataFrame:
    """Drop the larger-priority endpoint of every edge whose endpoints
    picked the same tentative color. A vertex survives iff its
    struct(p, vid) is strictly below every same-color tentative
    neighbour's — ONE combinable min per vertex."""
    t = tentative.join(und, "vid").select("vid", "p", "color")
    l = t.selectExpr("vid as src", "p as ps", "color as cs")
    rr = t.selectExpr("vid as dst", "p as pd", "color as cd")
    clash_min = (
        sym.join(l, "src")
        .join(rr, "dst")
        .filter(F.col("cs") == F.col("cd"))
        .groupBy("src")
        .agg(F.min(F.struct(F.col("pd").alias("p"), F.col("dst").alias("vid"))).alias("mn"))
    )
    return (
        t.join(clash_min, t.vid == clash_min.src, "left")
        .filter(
            F.col("mn").isNull()
            | (F.struct(t.p.alias("p"), t.vid.alias("vid")) < F.col("mn"))
        )
        .select(t.vid, t.color)
    )
