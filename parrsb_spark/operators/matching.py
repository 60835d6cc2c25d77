"""Maximal matching — synchronous handshake rounds with per-round
re-randomized priorities (Israeli & Itai, "A fast and simple
randomized parallel algorithm for maximal matching", IPL 1986).

Each round every edge gets a fresh pseudo-random priority (the round
index mixed MULTIPLICATIVELY into a Knuth-hash of the endpoints — an
additive mix would shift all priorities equally and change nothing);
an edge joins the matching iff it is the strict minimum-priority live
edge at BOTH endpoints (a local handshake — no two winners can share
a vertex), matched vertices retire all their edges, and the round
repeats. The globally minimum live edge always wins, so progress is
guaranteed; fresh per-round randomness removes a constant fraction of
edges per round in expectation, giving O(log m) rounds — measured on
the sf0.01 co-purchase fixture: 8 rounds vs 27 with FIXED priorities
(and 2x the wall), the classic fixed-order greedy serialization.

Maximal matching is the coarsening primitive of multilevel graph
partitioners (heavy-edge matching); the reference coarsens by index
grouping instead (`mg_setup_aux`, ref /root/reference/src/
multigrid.c:119-131) — this is the graph-native generalization, under
the same synchronous fixed-point-by-rounds discipline as the
reference's min-label component sweep (ref /root/reference/src/
components.c:122-147).

Determinism: priorities are exact integer arithmetic over (u, v,
round), totally ordered by struct(p, u, v) — identical in Spark and
the DuckDB oracle, so every round's winner set is bitwise
partition-independent and the oracle unrolls the identical recurrence
(converged rounds are no-ops: the live set is empty at the fixed
point).

Scale design:
- per round: ONE map-side-combinable per-vertex `min(struct)` groupBy
  over the 2-role edge explode + one equality filter — a degree-d
  hub's d live edges reduce combinably to one min, no window funnel.
- the live edge set only shrinks (every round removes at least the
  winners' edges); `localCheckpoint` each round truncates lineage.
- winners are identified by struct EQUALITY against both endpoint
  minima — no tie hazard: the struct order is total (u, v break any
  priority collision).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.loop import counted_checkpoint, key_degrees, spmv_loop
from parrsb_spark.functions.spmv import symmetrize
from parrsb_spark.session import local_frame
from parrsb_spark.operators.mis import KNUTH_MULT, PRIO_MOD

EDGE_MULT2 = 40503  # odd 16-bit scrambler for the second endpoint


def edge_round_priority(u: Column, v: Column, r: int) -> Column:
    """((u·2654435761 + v·40503 mod 2^31) + r)·2654435761 mod 2^31 —
    exact bigint arithmetic, replayable verbatim in ANSI SQL; the
    round index is mixed multiplicatively so each round draws a fresh
    pseudo-random edge order. Collisions are harmless: the matching
    order is the TOTAL order struct(p, u, v)."""
    base = F.pmod(
        u.cast("bigint") * F.lit(KNUTH_MULT) + v.cast("bigint") * F.lit(EDGE_MULT2),
        F.lit(PRIO_MOD),
    )
    return F.pmod((base + F.lit(r)) * F.lit(KNUTH_MULT), F.lit(PRIO_MOD))


def maximal_matching(
    edges: DataFrame,
    max_rounds: int = 16,
    priority_fn: Callable[[Column, Column, int], Column] | None = None,
) -> DataFrame:
    """Returns (u, v, round) — the matched pairs in canonical u < v
    form with the round each pair was matched. At the fixed point the
    matching is maximal: every unmatched edge has a matched endpoint.
    Converged rounds are no-ops, so the fixed point equals running
    exactly `max_rounds` rounds (the unrolled-oracle contract).
    `priority_fn(u, v, round)` overrides the edge priority (e.g. an
    xxhash64 mix for graphs past 2^32 vertices — the default exists
    so a SQL oracle can replay it exactly)."""
    prio = priority_fn or edge_round_priority
    canon = (
        symmetrize(edges)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    matched = None
    # the hub gate counts both canonical roles: a vertex's full degree
    with spmv_loop(canon, "u", probe=lambda lp: key_degrees(lp.edges, "u", "v")) as lp:
        # live edge rows: the setup aggregate's count in round 1, then
        # observed on each round's checkpoint
        live, n_live = lp.edges, lp.stats["rows"] or 0
        for r in range(1, max_rounds + 1):
            if n_live == 0:
                break
            lv = live.select(
                "u", "v", prio(F.col("u"), F.col("v"), r).cast("bigint").alias("p")
            )
            sp = F.struct(F.col("p"), F.col("u"), F.col("v"))
            # per-VERTEX min over incident live edges in BOTH canonical
            # roles (a vertex is `u` in some edges, `v` in others)
            vmin = (
                lv.select(F.col("u").alias("vid"), sp.alias("s"))
                .unionAll(lv.select(F.col("v").alias("vid"), sp.alias("s")))
                .groupBy("vid")
                .agg(F.min("s").alias("mn"))
            )
            wins = (
                lv.join(vmin.select(F.col("vid").alias("u"), F.col("mn").alias("mu")), "u")
                .join(vmin.select(F.col("vid").alias("v"), F.col("mn").alias("mv")), "v")
                .filter((sp == F.col("mu")) & (sp == F.col("mv")))
                .select("u", "v", F.lit(r).alias("round"))
                .localCheckpoint(eager=True)
            )
            matched = wins if matched is None else matched.unionAll(wins)
            mvert = (
                wins.select(F.col("u").alias("vid"))
                .unionAll(wins.select(F.col("v").alias("vid")))
            )
            live, n_live, _ = counted_checkpoint(
                live.join(mvert.withColumnRenamed("vid", "u"), "u", "left_anti")
                .join(mvert.withColumnRenamed("vid", "v"), "v", "left_anti")
            )
    if matched is None:
        return local_frame(edges.sparkSession, [], "u bigint, v bigint, round int")
    return matched.select("u", "v", "round")
