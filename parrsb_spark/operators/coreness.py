"""Core decomposition — per-vertex coreness by h-index iteration.

Montresor, De Pellegrini & Miorandi, "Distributed k-core
decomposition" (IEEE TPDS 2013): initialize every vertex's estimate
to its degree; each synchronous round replace it with
min(est(v), H({est(u) : u ∈ N(v)})), where H is the h-index — the
largest h such that at least h neighbours have estimate ≥ h. The
estimates are monotone non-increasing, bounded below by the true core
number, and the fixed point IS the core number of every vertex (their
Theorem 1) — the full decomposition `kcore.py`'s single-k peel only
samples. Synchronous integer rounds under the same
fixed-point-by-rounds discipline as the reference's min-label
component sweep (ref /root/reference/src/components.c:122-147) —
every quantity is an exact integer, so the result is bitwise
partition-independent and the DuckDB oracle unrolls the identical
recurrence (converged rounds are no-ops: estimates stop moving).

Scale design:
- per round: ONE estimate-attach join over the cached symmetric edge
  set + a distinct-value count reduce + the h-index scan. The scan is
  a window ordered by estimate DESC — but over the (vid, est_value)
  DISTINCT-COUNT rows, NOT the raw neighbour rows: a degree-d hub
  funnels only its #distinct neighbour estimates (bounded by the
  graph's distinct degree values ~O(10^3..10^5) on a power-law
  webgraph, shrinking toward the #distinct coreness values as rounds
  converge), never d itself — the labelprop-argmax lesson applied at
  design time.
- estimates only decrease, so a vertex whose neighbourhood did not
  change is a no-op row; `localCheckpoint` each round truncates
  lineage, and the state appears on ONE side of each join (linear
  origin-stats growth — no hard_truncate needed).
- early exit when no estimate moved: the round's checkpoint keeps the
  old estimate beside h and observes how many rows have h < est, so
  the check costs no job of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parrsb_spark.functions.loop import counted_checkpoint, spmv_loop
from parrsb_spark.functions.spmv import symmetrize


def _h_index(nbr_est: DataFrame) -> DataFrame:
    """(vid, h) — h-index of each vid's neighbour-estimate multiset.
    Input: (vid, est) one row per neighbour. Reduces to distinct-value
    counts FIRST (map-side combinable), then a per-vid window over the
    value rows only: h = max over distinct values t of
    min(t, #neighbours with est ≥ t)."""
    counts = nbr_est.groupBy("vid", "est").agg(F.count("*").alias("c"))
    w = Window.partitionBy("vid").orderBy(F.desc("est"))
    cume = counts.select(
        "vid", "est", F.sum("c").over(w).alias("c_ge")
    )
    return cume.groupBy("vid").agg(
        F.max(F.least(F.col("est"), F.col("c_ge"))).cast("int").alias("h")
    )


def coreness(edges: DataFrame, max_rounds: int = 32) -> DataFrame:
    """Returns (vid, core) — the exact core number of every vertex of
    the symmetrized graph once converged (estimates are monotone
    non-increasing with the true coreness as a fixed point, so
    converged rounds are no-ops and the fixed point equals running
    exactly `max_rounds` rounds — the unrolled-oracle contract; an
    UNconverged bound still equals the oracle at the same bound)."""
    with spmv_loop(symmetrize(edges), "src") as lp:
        sym = lp.edges
        est = (
            sym.groupBy(F.col("src").alias("vid"))
            .agg(F.count("*").cast("int").alias("est"))
            .localCheckpoint(eager=True)
        )
        for _ in range(max_rounds):
            nbr = (
                sym.join(
                    est.select(F.col("vid").alias("src"), F.col("est").alias("e_src")),
                    "src",
                )
                .select(F.col("dst").alias("vid"), F.col("e_src").alias("est"))
            )
            h = _h_index(nbr)
            nxt, _, moved = counted_checkpoint(
                est.join(h, "vid"), changed=F.col("h") < F.col("est")
            )
            est = nxt.select("vid", F.least(F.col("est"), F.col("h")).alias("est"))
            if moved == 0:
                break
    return est.select("vid", F.col("est").alias("core"))
